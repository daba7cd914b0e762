package graft

import java.nio.file.Files
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.gold.GoldEtl
import graft.scd.Scd2
import graft.store.{GenLog, PointerCommit, SnapshotStore}

/** Every filesystem step of every table publish path, failed one at a
  * time. For each path the crash-free run is counted first on the
  * `crash://` scheme ([[CrashFs]]); then, for every k, a fresh copy of
  * the same starting tables runs the path with its k-th mutating call
  * failing, and:
  *
  *  1. each table the path publishes reads exactly as before or exactly
  *     as after the crash-free run (never a mix, never missing);
  *  2. a plain retry of the path converges to the crash-free rows;
  *  3. vacuum then deletes nothing a live snapshot references: the rows
  *     are unchanged and every version a kept manifest names is on disk;
  *     and it leaves no manifest whose version dir is gone, and no
  *     pointer temp file.
  *
  * Index generations ([[GenLog.publish]]) get the same treatment:
  * the pointer names the old or the new head and its whole chain
  * reads, a plain retry converges, and a later publish's prune keeps
  * every generation the pointer's chain names and leaves no pointer
  * temp file.
  *
  * Fixtures stay at 100 rows or fewer. The k count and the calls per
  * type of each path are printed. */
class CrashPointSpec extends SparkSuite {

  /** One publish path: `setup` builds its starting tables under a base
    * dir, `op` runs it there, `tables` lists the roots it publishes. */
  private case class PublishPath(name: String, setup: String => Unit,
                                 op: String => Unit,
                                 tables: String => Seq[String])

  private def conf = spark.sparkContext.hadoopConfiguration

  /** Crash points checked at once. */
  private val Parallel = 3

  /** (rows, order-insensitive content hash); None before the first
    * commit. The closed region's `close_batch` names the version that
    * wrote a row, which a retry may legitimately renumber, so it is left
    * out. */
  private def state(root: String): Option[(Long, Long)] =
    if (!PointerCommit.exists(spark, root)) None
    else {
      val df = PointerCommit.read(spark, root).drop("close_batch")
      val h = xxhash64(df.columns.sorted.map(c => col(s"`$c`")).toSeq: _*)
      val hs = df.select(h).collect().map(_.getLong(0))
      Some((hs.length.toLong, hs.map(_ >> 16).sum))
    }

  private def states(p: PublishPath, base: String): Seq[Option[(Long, Long)]] =
    p.tables(base).map(state)

  private def copy(from: String, to: String): Unit = {
    val fs = new Path(from).getFileSystem(conf)
    FileUtil.copy(fs, new Path(from), fs, new Path(to), false, conf)
  }

  /** Every version a kept manifest (or the pointer) names is on disk. */
  private def assertReferencesKept(root: String, ctx: String): Unit = {
    val snaps = new Path(root, SnapshotStore.SnapshotsDir)
    val fs = snaps.getFileSystem(conf)
    val kept = SnapshotStore.versions(spark, root)
    val named = SnapshotStore.currentName(spark, root).toSeq ++
      kept.flatMap(v => SnapshotStore.readManifest(spark, root, v)
        .map(_.entries.values).getOrElse(Nil))
    named.distinct.foreach(v =>
      assert(fs.exists(new Path(snaps, v)), s"$ctx: vacuum deleted referenced $v"))
  }

  /** No `.manifest` under `_snapshots/` outlives its version dir. */
  private def assertNoOrphanManifests(root: String, ctx: String): Unit = {
    val snaps = new Path(root, SnapshotStore.SnapshotsDir)
    val fs = snaps.getFileSystem(conf)
    val orphans = fs.listStatus(snaps).map(_.getPath.getName)
      .filter(_.endsWith(".manifest"))
      .filterNot(m => fs.exists(new Path(snaps, m.stripSuffix(".manifest"))))
    assert(orphans.isEmpty,
      s"$ctx: manifests without a version dir: ${orphans.sorted.mkString(", ")}")
  }

  /** No pointer temp file (`_CURRENT.tmp-*`) is left under `root`. */
  private def assertNoPointerTemps(root: String, ctx: String): Unit = {
    val dir = new Path(root)
    val temps = dir.getFileSystem(conf).listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith(s"${GenLog.PointerFile}.tmp-"))
    assert(temps.isEmpty, s"$ctx: pointer temp files left: ${temps.sorted.mkString(", ")}")
  }

  /** Run `check` for every k in 1..n, a few crash points at a time
    * (they are independent copies). */
  private def forEachCrashPoint(n: Int)(check: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(Parallel)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.traverse((1 to n).toList)(k => Future(check(k))),
        10.minutes)
    } finally pool.shutdown()
  }

  private def enumerate(p: PublishPath): Unit = {
    val t0 = System.nanoTime()
    val pristine = Files.createTempDirectory(s"graft_crash_${p.name}").toString
    val local = s"$pristine/start"
    CrashFs.install(conf)
    p.setup(CrashFs.uri(local))
    def fresh(tag: String): String = {
      val dir = s"$pristine/$tag"
      copy(local, dir)
      CrashFs.uri(dir)
    }
    val clean = fresh("clean")
    val before = states(p, clean)
    CrashFs.watch(clean)
    p.op(clean)
    val (n, calls) = (CrashFs.total(clean), CrashFs.calls(clean))
    CrashFs.unwatch(clean)
    val after = states(p, clean)
    println(s"[crash-points] ${p.name}: k = 1..$n, calls " +
      calls.toSeq.sorted.map { case (op, c) => s"$op=$c" }.mkString(" "))
    assert(n > 0, s"${p.name}: the crash-free run made no filesystem change")
    def check(k: Int): Unit = {
      val ctx = s"${p.name} k=$k"
      val base = fresh(s"k$k")
      CrashFs.watch(base)
      CrashFs.armAt(base, k)
      val attempt = try Try(p.op(base)) finally CrashFs.unwatch(base)
      states(p, base).zip(before.zip(after)).zip(p.tables(base)).foreach {
        case ((seen, (old, neu)), root) =>
          assert(seen == old || seen == neu,
            s"$ctx: $root reads neither the old nor the new snapshot " +
              s"(${attempt.failed.map(_.getMessage).getOrElse("no error")})")
      }
      p.op(base)
      p.tables(base).foreach(SnapshotStore.vacuum(spark, _, keepLast = 1))
      assert(states(p, base) == after, s"$ctx: retry + vacuum did not converge")
      p.tables(base).foreach(assertReferencesKept(_, ctx))
      p.tables(base).foreach(assertNoOrphanManifests(_, ctx))
      p.tables(base).foreach(assertNoPointerTemps(_, ctx))
    }
    forEachCrashPoint(n)(check)
    println(f"[crash-points] ${p.name}: $n crash points checked in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  // ------------------------------------------------------------ fixtures

  private def scdBatch(ids: Seq[Int], name: String, date: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (s"u$i", s"$name-$i", s"addr-$i", true, date, null: String,
      s"sp${i % 2}", "2025", "01"))
      .toDF("universal_id", "project_name", "address", "is_current",
        "valid_from", "valid_to", "spider_name", "ingestion_year",
        "ingestion_month")
  }

  /** Silver rows in the shape the gold ETL reads, over `months`
    * ingestion months. */
  private def goldSilver(tag: String, n: Int, months: Int, vf: String): DataFrame = {
    val ck = col("id")
    val d = spark.range(n).select(
      concat(lit(s"$tag-"), ck.cast("string")).as("universal_id"),
      lit("Hanoi").as("city"),
      concat(lit("Zone "), (ck % 3).cast("string")).as("district"),
      (lit(100.0) + ck.cast("double")).as("avg_unit_price"),
      ((lit(100.0) + ck.cast("double")) * 80).as("avg_selling_price"),
      lit(80.0).as("total_area"),
      lit(true).as("is_current"),
      lit(vf).as("valid_from"),
      lit(null).cast("string").as("valid_to"),
      concat(lit("2025-"), lpad(((ck % months) + 1).cast("string"), 2, "0"),
        lit("-15")).as("ingestion_date"),
      lit("2025").as("ingestion_year"),
      lpad(((ck % months) + 1).cast("string"), 2, "0").as("ingestion_month"))
    graft.schema.Mappings.AmenityPatterns.foldLeft(d) {
      case (df, (c, _)) => df.withColumn(c, lit(false))
    }
  }

  private def tiers(rows: Seq[(String, String, Int, Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("project_id", "quality_tier", "year", "month")
  }

  // ---------------------------------------------------------------- paths

  test("PointerCommit.publish: every crash point leaves old or new, retry converges") {
    import spark.implicits._
    enumerate(PublishPath("publish",
      base => PointerCommit.publish(
        (0 until 40).map(i => (i, s"a$i", i % 2)).toDF("id", "v", "p"),
        s"$base/t", Seq("p")),
      base => PointerCommit.publish(
        (0 until 50).map(i => (i, s"b$i", i % 2)).toDF("id", "v", "p"),
        s"$base/t", Seq("p")),
      base => Seq(s"$base/t")))
  }

  test("Scd2.mergeRegioned with close-outs: every crash point leaves old or new, retry converges") {
    enumerate(PublishPath("merge_regioned",
      base => {
        Scd2.mergeRegioned(spark, scdBatch(0 until 40, "v1", "2025-01-15"),
          s"$base/s", asOfDate = lit("2025-01-15"))
        Scd2.mergeRegioned(spark, scdBatch(0 until 10, "v2", "2025-01-16"),
          s"$base/s", asOfDate = lit("2025-01-16"))
      },
      base => Scd2.mergeRegioned(spark,
        scdBatch((5 until 15) ++ (40 until 45), "v3", "2025-01-17"),
        s"$base/s", asOfDate = lit("2025-01-17")),
      base => Seq(Scd2.closedRoot(s"$base/s"), Scd2.currentRoot(s"$base/s"))))
  }

  test("Scd2.merge (flat): every crash point leaves old or new, retry converges") {
    enumerate(PublishPath("merge_flat",
      base => Scd2.merge(spark, scdBatch(0 until 40, "v1", "2025-01-15"),
        s"$base/s", asOfDate = lit("2025-01-15")),
      base => Scd2.merge(spark,
        scdBatch((0 until 10) ++ (40 until 45), "v2", "2025-01-16"),
        s"$base/s", asOfDate = lit("2025-01-16")),
      base => Seq(s"$base/s")))
  }

  test("GoldEtl.runIncremental: every crash point leaves old or new, retry converges") {
    val parts = Seq("ingestion_year", "ingestion_month")
    val day1 = goldSilver("b", 60, 3, "2025-01-10")
    enumerate(PublishPath("gold_incremental",
      base => {
        PointerCommit.publish(day1, s"$base/silver", parts)
        GoldEtl.run(spark, s"$base/silver", s"$base/gold",
          to_timestamp(lit("2025-01-20 12:00:00")))
        PointerCommit.publish(
          day1.unionByName(goldSilver("n", 10, 1, "2025-01-21")),
          s"$base/silver", parts)
      },
      base => GoldEtl.runIncremental(spark, s"$base/silver", s"$base/gold",
        "2025-01-21", to_timestamp(lit("2025-01-21 12:00:00"))),
      base => Seq(s"$base/gold", GoldEtl.statsPath(s"$base/gold"))))
  }

  test("Scd2.compactClosed: every crash point leaves old or new, retry converges") {
    enumerate(PublishPath("compact_closed",
      base => {
        Scd2.mergeRegioned(spark, scdBatch(0 until 40, "v1", "2025-01-15"),
          s"$base/s", asOfDate = lit("2025-01-15"))
        Scd2.mergeRegioned(spark, scdBatch(0 until 10, "v2", "2025-01-16"),
          s"$base/s", asOfDate = lit("2025-01-16"))
        Scd2.mergeRegioned(spark, scdBatch(10 until 20, "v3", "2025-01-16"),
          s"$base/s", asOfDate = lit("2025-01-16"))
      },
      base => Scd2.compactClosed(spark, s"$base/s", maxFilesPerPartition = 1),
      base => Seq(Scd2.closedRoot(s"$base/s"))))
  }

  test("SnapshotStore.vacuum: every crash point keeps the live rows, retry converges") {
    enumerate(PublishPath("vacuum",
      base => {
        val root = s"$base/g"
        GoldEtl.publishIncrementalManifest(spark, root, tiers(Seq(
          ("p1", "high", 2025, 1), ("p2", "low", 2025, 2))), Array((2025, 1), (2025, 2)))
        Seq("p3", "p4", "p5").foreach(p => GoldEtl.publishIncrementalManifest(
          spark, root, tiers(Seq((p, "low", 2025, 2))), Array((2025, 2))))
      },
      base => SnapshotStore.vacuum(spark, s"$base/g", keepLast = 1),
      base => Seq(s"$base/g")))
  }

  // ------------------------------------------------ index generations

  private val GenFmt = 1

  /** (meta `n` of the live head, sorted data rows of its whole chain);
    * None with no head. Reading the chain fails if any member is gone. */
  private def genState(root: String): Option[(Long, Seq[Long])] =
    GenLog.head(spark, root, GenFmt).map { case (g, m) =>
      (m.n, GenLog.readChain(spark, g, GenFmt, "data").collect()
        .map(_.getLong(0)).sorted.toSeq)
    }

  private def headName(root: String): Option[String] =
    GenLog.head(spark, root, GenFmt).map(_._1.getName)

  /** Publish `ids` as the generation of snapshot `snap`, chained to the
    * live head when `delta`. A head already at `snap` means an earlier
    * attempt published, so the call is a no-op: the index modules'
    * snapshot key makes their retries idempotent the same way. */
  private def publishIds(root: String, snap: String, ids: Range,
                         delta: Boolean): Unit = {
    val head = GenLog.head(spark, root, GenFmt)
    val parent = head.filter(_ => delta)
    if (!head.exists(_._2.snap.contains(snap)))
      GenLog.publish(spark, root, GenLog.Meta(
          parent.map(_._2.n).getOrElse(0L) + ids.size, GenFmt, 0L, Some(snap),
          parent.map(_._1.getName))) { gen =>
        spark.range(ids.start, ids.end).write
          .parquet(new Path(gen, "data").toString)
      }
  }

  /** Every crash point of one [[GenLog.publish]] on `<base>/idx`. The
    * prune grace is 0 throughout, so a later publish's prune would
    * delete any crash debris it does not keep, and the check that it
    * keeps the live chain is not vacuous. */
  private def enumerateGen(name: String, setup: String => Unit,
                           op: String => Unit): Unit = {
    val t0 = System.nanoTime()
    val grace = GenLog.pruneGraceMs
    GenLog.pruneGraceMs = 0L
    try {
      val pristine = Files.createTempDirectory(s"graft_crash_$name").toString
      val local = s"$pristine/start"
      assert(new java.io.File(local).mkdirs())
      CrashFs.install(conf)
      setup(s"${CrashFs.uri(local)}/idx")
      def fresh(tag: String): String = {
        val dir = s"$pristine/$tag"
        copy(local, dir)
        CrashFs.uri(dir)
      }
      val clean = fresh("clean")
      val (before, oldHead) = (genState(s"$clean/idx"), headName(s"$clean/idx"))
      CrashFs.watch(clean)
      op(s"$clean/idx")
      val (n, calls) = (CrashFs.total(clean), CrashFs.calls(clean))
      CrashFs.unwatch(clean)
      val after = genState(s"$clean/idx")
      println(s"[crash-points] $name: k = 1..$n, calls " +
        calls.toSeq.sorted.map { case (op, c) => s"$op=$c" }.mkString(" "))
      assert(n > 0 && after != before, s"$name: the crash-free run published nothing")
      forEachCrashPoint(n) { k =>
        val ctx = s"$name k=$k"
        val base = fresh(s"k$k")
        val root = s"$base/idx"
        CrashFs.watch(base)
        CrashFs.armAt(base, k)
        val attempt = try Try(op(root)) finally CrashFs.unwatch(base)
        val seen = genState(root)
        assert((seen == before && headName(root) == oldHead) || seen == after,
          s"$ctx: the pointer names neither the old nor the new head " +
            s"(${attempt.failed.map(_.getMessage).getOrElse("no error")})")
        op(root)
        assert(genState(root) == after, s"$ctx: retry did not converge")
        val live = GenLog.chain(spark, GenLog.head(spark, root, GenFmt).get._1,
          GenFmt)
        publishIds(root, "later", 1000 until 1005, delta = true)
        val fs = new Path(root).getFileSystem(conf)
        live.foreach(g => assert(fs.exists(new Path(g, "meta")),
          s"$ctx: a later prune deleted ${g.getName}, which the chain names"))
        assert(genState(root) == after.map { case (m, rows) =>
          (m + 5, rows ++ (1000L until 1005L)) },
          s"$ctx: the later head's chain does not read")
        assertNoPointerTemps(root, ctx)
      }
    } finally GenLog.pruneGraceMs = grace
    println(f"[crash-points] $name: checked in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("GenLog.publish, base and delta: every crash point leaves the old or new head, retry converges") {
    enumerateGen("gen_base", _ => (),
      root => publishIds(root, "s1", 0 until 10, delta = false))
    enumerateGen("gen_delta",
      root => publishIds(root, "s1", 0 until 10, delta = false),
      root => publishIds(root, "s2", 10 until 15, delta = true))
  }
}
