package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._

/** Object-store-safe table commit: versioned immutable snapshot
  * directories plus an atomically-replaced single-file pointer.
  *
  * Layout:
  * {{{
  *   <root>/_snapshots/v000000001/   immutable parquet snapshot dirs
  *   <root>/_snapshots/v000000002/
  *   <root>/_CURRENT                 one small file naming the live dir
  * }}}
  *
  * Why this exists: the tmp-write + directory-rename swap used by
  * [[DirectorySwapCommit]] is atomic on HDFS and POSIX filesystems but
  * NOT on S3-style object stores, where "rename" is a non-atomic
  * copy-then-delete over every object — a reader racing the swap can see
  * a half-moved table, and a crash mid-swap leaves one permanently
  * (the reference inherited this guarantee from Delta's transaction log,
  * silver_etl_script.py:946-961; parquet-native tables must rebuild it).
  * Writing a brand-new immutable snapshot directory and then publishing
  * it by replacing ONE tiny pointer object is safe on both families:
  * single-object PUT is atomic per key on object stores, and the
  * implementation here publishes via create-temp + POSIX/HDFS
  * rename-with-overwrite. A writer crash before the pointer flip leaves
  * an orphaned, invisible snapshot dir — readers keep seeing the old
  * snapshot — and [[vacuum]] collects orphans later (the VACUUM analogue,
  * silver_etl_script.py:985-988).
  */
/** A racing writer committed first: the version slot this commit claimed
  * was taken, or the table advanced past the snapshot this commit was
  * based on. The table is untouched by the loser — re-read the (new)
  * current snapshot, recompute, and commit again. */
class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

object SnapshotStore {

  val PointerFile = "_CURRENT"
  val SnapshotsDir = "_snapshots"

  /** A `.claim` older than this that was never published may be broken by
    * a competing writer (the claimant is presumed crashed). Generous on
    * purpose: breaking the claim of a writer that is merely slow hands
    * its version dir to the breaker. */
  val DefaultClaimTtlMs: Long = 15L * 60 * 1000

  /** Serializes claim creation within this JVM: RawLocalFileSystem's
    * `create(overwrite = false)` is exists-then-create, not atomic, so
    * two local threads could both win a slot without this. HDFS creates
    * are atomic namenode-side; S3 deployments substitute a conditional
    * PUT (If-None-Match) — per-process locking is only the local-FS leg. */
  private val claimLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Serializes the two operations whose interleaving was the round-9
    * residual double-publish window: a TTL-breaker's delete-then-create
    * claim break, and a publishing writer's final ownership-check +
    * pointer flip. Per-JVM: a monitor per table root. Cross-process on
    * POSIX/local filesystems: an OS file lock on
    * `_snapshots/.publish.lock` (held only for the few fs ops inside —
    * never across a data write). Object stores don't need it: there the
    * pointer flip is a conditional PUT (If-Match), which makes the final
    * check-and-flip atomic by itself. HDFS cross-JVM deployments keep the
    * TTL sized in minutes as defense-in-depth; in-process racers (the
    * local[n] reality of this library) are fully covered by the monitor. */
  private val publishLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withPublishLock[T](root: String)(body: => T): T = {
    val key = new Path(root).toString
    val mon = publishLocks.computeIfAbsent(key, _ => new Object)
    mon.synchronized {
      val uri = new Path(root).toUri
      val local = uri.getScheme == null || uri.getScheme == "file"
      if (!local) body
      else {
        val dir = new java.io.File(uri.getPath, SnapshotsDir)
        dir.mkdirs()
        val raf = new java.io.RandomAccessFile(
          new java.io.File(dir, ".publish.lock"), "rw")
        try {
          val lock = raf.getChannel.lock()
          try body finally lock.release()
        } finally raf.close()
      }
    }
  }

  /** Test seams (ConcurrencySpec): one-shot callbacks fired inside the
    * formerly-racy windows so the interleavings can be driven
    * deterministically. `testHookBeforePublish(root, version)` runs after
    * fence #2, before the locked final-check+flip; `testHookBeforeBreak`
    * runs after a breaker's pre-lock staleness check, before it takes the
    * publish lock. */
  @volatile private[graft] var testHookBeforePublish:
    Option[(String, String) => Unit] = None
  @volatile private[graft] var testHookBeforeBreak: Option[() => Unit] = None

  private def fsOf(root: Path, spark: SparkSession): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Name of the live snapshot dir, if a pointer has ever been published.
    * Reads through [[GenLog.readPointer]] — the one pointer-parse. */
  def currentName(spark: SparkSession, root: String): Option[String] = {
    val ptr = new Path(root, PointerFile)
    GenLog.readPointer(fsOf(ptr, spark), ptr)
  }

  /** Resolved path of the live snapshot dir. */
  def currentPath(spark: SparkSession, root: String): Option[Path] =
    currentName(spark, root).map(n => new Path(new Path(root, SnapshotsDir), n))

  /** Read the live snapshot. Resolves through the version's manifest when
    * it has one (an incremental publish carries untouched partitions
    * forward by reference — plain-reading its version dir would see only
    * the freshly-written partitions), else reads the version dir as plain
    * parquet. Throws if the table has never been committed. */
  def read(spark: SparkSession, root: String): DataFrame =
    currentName(spark, root) match {
      case Some(n) => readAt(spark, root, n)
      case None => throw new java.io.FileNotFoundException(
        s"no $PointerFile pointer under $root — table never committed")
    }

  /** All snapshot version names still on disk, ascending (oldest first).
    * The version dirs ARE the table's history — this plus [[readAt]] is
    * the time-travel surface (the one Delta affordance the reference
    * leaned on, silver_etl_script.py:979-988 context). */
  def versions(spark: SparkSession, root: String): Seq[String] = {
    val snaps = new Path(root, SnapshotsDir)
    val fs = fsOf(snaps, spark)
    if (!fs.exists(snaps)) Seq.empty
    else fs.listStatus(snaps)
      // exclude non-version directory siblings (`<name>.stats.parquet`
      // file-stats sidecars — store.FileStats)
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d{9}"))
      .map(_.getPath.getName).sorted.toSeq
  }

  /** Version-pinned read: the table exactly as snapshot `name` published
    * it, regardless of how many commits have happened since. Works for
    * both full snapshots (plain parquet dir) and manifest snapshots
    * (partitions resolved through that version's OWN manifest — including
    * partitions it carried forward by reference from older versions).
    * Throws FileNotFoundException once [[vacuum]] has collected the
    * version; retention is the `keepLast` window plus anything a kept
    * manifest still references. A manifest with no entries (every
    * partition emptied out) has no files to take a schema from, so
    * reading it throws an IllegalStateException naming the version. */
  def readAt(spark: SparkSession, root: String, name: String): DataFrame =
    readManifest(spark, root, name) match {
      case Some(entries) if entries.isEmpty =>
        throw new IllegalStateException(
          s"snapshot $name under $root has an empty manifest — no partition to read")
      case Some(entries) => readEntries(spark, root, entries)
      case None =>
        val dir = new Path(new Path(root, SnapshotsDir), name)
        val fs = fsOf(dir, spark)
        if (!fs.exists(dir)) throw new java.io.FileNotFoundException(
          s"snapshot $name not found under $root — never published or vacuumed")
        spark.read.parquet(dir.toString)
    }

  /** Change data feed between two pinned versions — Delta CDF's sibling
    * to [[readAt]] time travel, recovered from plain snapshots: rows are
    * matched by full-row content hash (an equi join on a 128-bit key,
    * never a row-by-row comparison), then classified by whether the
    * row's KEY survives on the other side:
    *
    *   - in vTo only, key new          → `insert`
    *   - in vTo only, key existed      → `update_postimage`
    *   - in vFrom only, key survives   → `update_preimage`
    *   - in vFrom only, key gone       → `delete`
    *
    * Cost is O(unshared entries) plus key-column scans. Each version's
    * partition entries come from its manifest, or, for a plain full
    * snapshot, from its hive dirs at the manifest's depth. An entry with
    * the same relative path and the same immutable version dir on both
    * sides is the same files, so it holds the same rows and can add no
    * change: only the from-only and to-only entries are content-diffed,
    * and a shared entry is read for its key column alone. When nothing
    * can be shared — two plain snapshots, a flat republish, an
    * unpartitioned table, a plain snapshot with a data file outside its
    * hive dirs — the unshared sets are the whole versions and this is
    * the full diff. Key survival is decided over the WHOLE version
    * (unshared and shared keys alike), with key-column-only scans.
    *
    * Unchanged rows hash-match and drop out of the feed, so the feed's
    * size scales with the churn between the versions. Duplicate rows are
    * handled by COUNT, not set difference: each side aggregates its
    * per-content multiplicity first and only the count DELTA feeds the
    * feed — deleting one of N identical copies emits exactly one feed
    * row (classified by the usual key-survival rule), where a plain
    * anti-join would see the surviving copy's hash on both sides and
    * silently drop the change entirely. Columns are aligned by name
    * over the UNION of the two versions' schemas — a column only one
    * version has reads as null on the other side, so schema adds/drops
    * surface as updates instead of being silently excluded (or
    * throwing). The row hash uses a field separator + null sentinel so
    * ("a","bc") never collides with ("ab","c") or null. Output columns:
    * the key columns, the other columns by name, then `change_type`. */
  def changesBetween(spark: SparkSession, root: String,
                     vFrom: String, vTo: String,
                     keyCols: Seq[String]): DataFrame = {
    val fromM = readManifest(spark, root, vFrom)
    val toM = readManifest(spark, root, vTo)
    // the whole versions: their schemas type every side read below
    def whole(name: String, m: Option[Map[String, String]]): DataFrame =
      if (m.exists(_.isEmpty)) spark.emptyDataFrame else readAt(spark, root, name)
    val from = whole(vFrom, fromM)
    val to = whole(vTo, toM)
    val split = splitEntries(spark, root, vFrom, fromM, vTo, toM)
    def side(es: Map[String, String], typed: DataFrame): DataFrame =
      readEntries(spark, root, es, Some(typed.schema))
    split match {
      case Some(s) if s.fromOnly.isEmpty && s.toOnly.isEmpty =>
        // no entry differs: an empty feed, typed by analysis alone
        val feed = diffFeed(side(Map.empty, from), side(Map.empty, to),
          None, keyCols)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), feed.schema)
      case Some(s) =>
        diffFeed(side(s.fromOnly, from), side(s.toOnly, to),
          Some(side(s.shared, from)), keyCols)
      case None => diffFeed(from, to, None, keyCols)
    }
  }

  /** One version pair's partition entries, split by whether both sides
    * hold the same files. */
  private[graft] case class EntrySplit(shared: Map[String, String],
                                      fromOnly: Map[String, String],
                                      toOnly: Map[String, String])

  /** Split two versions' entries into shared (same relative path, same
    * version dir), from-only and to-only. None — nothing can be shared —
    * when neither side has a manifest (two plain snapshots never share a
    * version dir), when the manifests disagree on depth, or when a plain
    * side has a data file outside its hive dirs at that depth. */
  private[graft] def splitEntries(spark: SparkSession, root: String,
                                  vFrom: String, fromM: Option[Map[String, String]],
                                  vTo: String, toM: Option[Map[String, String]]
                                 ): Option[EntrySplit] = {
    val depths = (fromM.toSeq ++ toM).flatMap(_.keys).map(_.split('/').length).distinct
    for {
      depth <- depths match { case Seq(d) => Some(d); case _ => None }
      fe <- fromM.orElse(hiveEntries(spark, root, vFrom, depth))
      te <- toM.orElse(hiveEntries(spark, root, vTo, depth))
    } yield {
      val shared = fe.filter { case (rel, v) => te.get(rel).contains(v) }
      EntrySplit(shared, fe -- shared.keys, te -- shared.keys)
    }
  }

  /** A plain snapshot's hive partition dirs at `depth`, as entries — only
    * if every visible data file sits directly in one of them (Spark's
    * reader skips `.`-names and `_`-names without `=`), so the entries
    * read exactly the rows the version dir does. Walks with plain
    * `listStatus`: a recursive `listFiles` builds located statuses, which
    * on the local filesystem load permissions one shell call per file. */
  private def hiveEntries(spark: SparkSession, root: String, name: String,
                          depth: Int): Option[Map[String, String]] = {
    val base = new Path(new Path(root, SnapshotsDir), name)
    val entries = freshEntries(spark, base.toString, depth)
    val fs = fsOf(base, spark)
    def covered(dir: Path, segs: Vector[String]): Boolean =
      fs.listStatus(dir).forall { st =>
        val n = st.getPath.getName
        val under = segs :+ n
        if (n.startsWith(".") || (n.startsWith("_") && !n.contains("="))) true
        else if (st.isDirectory) under.length <= depth && covered(st.getPath, under)
        else segs.length == depth && entries.contains(segs.mkString("/"))
      }
    if (covered(base, Vector.empty)) Some(entries) else None
  }

  /** The content diff and classification of [[changesBetween]] over the
    * rows only one side may hold; `shared` contributes keys only. */
  private def diffFeed(from: DataFrame, to: DataFrame, shared: Option[DataFrame],
                       keyCols: Seq[String]): DataFrame = {
    val cols = (from.columns.toSet ++ to.columns.toSet).toSeq.sorted
    def align(df: DataFrame, names: Seq[String]): DataFrame = df.select(names.map(c =>
      (if (df.columns.contains(c)) col(c) else lit(null)).as(c)): _*)
    val rowHash = md5(concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))
    // per-content multiplicity on each side; __rh hashes every column,
    // so grouping by (cols, __rh) is grouping by full row content
    def counted(df: DataFrame, cnt: String): DataFrame =
      align(df, cols).withColumn("__rh", rowHash)
        .groupBy((cols :+ "__rh").map(col): _*)
        .agg(count(lit(1)).as(cnt))
    val fr = counted(from, "__nf").select((Seq(col("__rh"), col("__nf")) ++
      cols.map(c => col(c).as(s"__f_$c"))): _*)
    // full-outer on the content hash; the data columns come from
    // whichever side has the row (when both do, content is identical by
    // construction of __rh, so either copy serves)
    val delta = fr.join(counted(to, "__nt"), Seq("__rh"), "full_outer")
      .select((Seq(col("__nf"), col("__nt")) ++
        cols.map(c => coalesce(col(c), col(s"__f_$c")).as(c))): _*)
      .withColumn("__d",
        coalesce(col("__nt"), lit(0L)) - coalesce(col("__nf"), lit(0L)))
      .filter(col("__d") =!= 0L)
    // which side holds each key anywhere in its version: the unshared
    // rows of each side plus the shared rows, which both sides hold
    def present(df: DataFrame, inFrom: Boolean, inTo: Boolean): DataFrame =
      align(df, keyCols).withColumn("__kf", lit(inFrom)).withColumn("__kt", lit(inTo))
    val presence = (Seq(present(from, true, false), present(to, false, true)) ++
      shared.map(present(_, true, true))).reduce(_.unionByName(_))
      .groupBy(keyCols.map(col): _*)
      .agg(max("__kf").as("__kf"), max("__kt").as("__kt"))
    // one pass: classify on the flags (a null key matches nothing, so it
    // never survives), then replicate each changed content-row |delta|
    // times so multi-copy churn round-trips through the feed exactly
    delta.join(presence, keyCols, "left")
      .withColumn("change_type",
        when(col("__d") > 0,
          when(col("__kf"), "update_postimage").otherwise("insert"))
          .otherwise(when(col("__kt"), "update_preimage").otherwise("delete")))
      .withColumn("__i", explode(sequence(lit(1L), abs(col("__d")))))
      .select((keyCols ++ cols.filterNot(keyCols.contains) :+ "change_type")
        .map(col): _*)
  }

  /** Write a new snapshot via `write(dir)` then publish it by atomically
    * replacing the pointer. The write happens entirely inside a fresh
    * version dir invisible to readers; only the final single-file pointer
    * replacement changes what they see. Returns the new snapshot name.
    *
    * Concurrency: last-writer-wins between commits that did not read the
    * table (each bases itself on whatever is current when it starts), but
    * two commits RACING from the same current version conflict — exactly
    * one wins its version slot, the other raises
    * [[ConcurrentCommitException]] (see [[commitFrom]]). */
  def commit(spark: SparkSession, root: String)(write: String => Unit): String =
    commitFrom(spark, root, currentName(spark, root))(write)

  /** [[commit]] with an optimistic-concurrency fence: the commit is valid
    * only against `base` — the version the caller READ when it computed
    * what it is about to write (None for a first load). A read-modify-
    * write cycle (SCD2 merge, compaction, incremental gold) passes the
    * version it read; if any other writer publishes in between, this
    * commit fails with [[ConcurrentCommitException]] instead of silently
    * dropping the interloper's snapshot — the lost-update guard the
    * reference inherited from Delta's optimistic transaction protocol
    * (silver_etl_script.py:922-951 merges are transactional under racing
    * writers; graft rebuilds the guard over plain parquet).
    *
    * Protocol, all steps ordered so a crash at ANY point leaves readers
    * on `base` and the table uncorrupted:
    *
    *  1. Fence #1: current must still equal `base`, else conflict now
    *     (cheap, before any data is written).
    *  2. Claim the version slot `base+1` by atomically creating
    *     `_snapshots/v<n>.claim` (create-exclusive = compare-and-swap on
    *     the slot; atomic on HDFS/POSIX-via-lock, conditional PUT on S3).
    *     Exactly one racing writer wins the slot; losers conflict without
    *     having written anything. A claim whose version was never
    *     published and whose stamp is older than `claimTtlMs` is broken
    *     once (claimant presumed crashed); published claims are never
    *     broken — they are the commit record protecting live version
    *     dirs from being overwritten by a writer racing an old base.
    *  3. Write the snapshot data into the claimed version dir.
    *  4. Fence #2: the claim must still carry OUR token (a TTL-breaker
    *     may have taken the slot while we stalled) and current must still
    *     equal `base`. On either failure the loser deletes what it wrote
    *     (only if it still owns the claim) and conflicts; it never
    *     touches the pointer.
    *  5. Under the publish lock: re-check claim ownership, then flip the
    *     pointer. A TTL-breaker takes the same lock around its
    *     delete-then-create (re-validating that the version is still
    *     unpublished inside it), so breaker-vs-writer both-publish cannot
    *     interleave — the round-9 "one filesystem op wide" residual
    *     window is closed, not just narrowed.
    *
    * The loser's retry re-enters with the WINNER's version as its new
    * base and lands on top — nothing is ever silently dropped. */
  def commitFrom(spark: SparkSession, root: String, base: Option[String],
                 claimTtlMs: Long = DefaultClaimTtlMs)
                (write: String => Unit): String = {
    val rootPath = new Path(root)
    val fs = fsOf(rootPath, spark)
    val cur0 = currentName(spark, root)
    if (cur0 != base)
      throw new ConcurrentCommitException(
        s"table $root advanced to ${cur0.getOrElse("<none>")} since this " +
          s"commit read ${base.getOrElse("<none>")} — re-read and retry")
    val seq = base
      .flatMap(n => "^v(\\d+)".r.findFirstMatchIn(n).map(_.group(1).toLong))
      .getOrElse(0L)
    val name = f"v${seq + 1}%09d"
    val token = java.util.UUID.randomUUID().toString
    claimSlot(spark, fs, root, name, token, claimTtlMs)
    val dir = new Path(new Path(rootPath, SnapshotsDir), name)
    // we own the slot, so anything already at its dir is debris from a
    // crashed earlier attempt (a PUBLISHED version could not be claimed);
    // clear it — and the crashed attempt's stats sidecar sibling, which
    // would otherwise describe deleted files (or break a sidecar-less
    // writer's publish) — so the callback starts clean in any save mode
    if (fs.exists(dir)) fs.delete(dir, true)
    fs.delete(new Path(new Path(rootPath, SnapshotsDir),
      name + FileStats.StatsSuffix), true)
    // a write() that THROWS releases its slot immediately (we still own
    // the claim): the crashed attempt's data stays on disk, invisible —
    // the established crash-isolation contract — and a retry re-claims
    // the same slot without waiting out the TTL. Only JVM death mid-write
    // leaves a claim that must age out.
    try write(dir.toString)
    catch {
      case e: Throwable =>
        if (claimToken(fs, claimPath(root, name)).contains(token))
          fs.delete(claimPath(root, name), false)
        throw e
    }
    // fence #2 — between our claim and this point a TTL-breaker may have
    // taken the slot, or (if our claim was broken) the table may have
    // moved; check ownership FIRST: once the claim is someone else's, the
    // version dir is theirs too and we must not delete it
    if (!claimToken(fs, claimPath(root, name)).contains(token))
      throw new ConcurrentCommitException(
        s"claim on $name at $root was broken (writer presumed crashed " +
          s"after ${claimTtlMs}ms) and the slot re-used — recompute and retry")
    if (currentName(spark, root) != base) {
      fs.delete(dir, true)
      // the loser's sidecar sibling goes with its data
      fs.delete(new Path(new Path(rootPath, SnapshotsDir),
        name + FileStats.StatsSuffix), true)
      fs.delete(claimPath(root, name), false)
      throw new ConcurrentCommitException(
        s"table $root advanced past ${base.getOrElse("<none>")} before " +
          s"$name could publish — recompute and retry")
    }
    // fence #3 — the final ownership re-check and the pointer flip run
    // under the PUBLISH LOCK, and the TTL-breaker's delete-then-create
    // runs under the SAME lock (see claimSlot), which closes the round-9
    // residual window (breaker fires between this read and the rename →
    // both publish): whichever of {writer, breaker} takes the lock first
    // wins, and the loser observes either a foreign claim token (writer
    // loses → conflict, nothing published) or a published version
    // (breaker aborts its break — the claim is now a commit record). On
    // local/POSIX roots the lock is an OS file lock, so the exclusion
    // holds cross-process too; on object stores the flip itself is a
    // conditional PUT and needs no lock. The lock is held for two small
    // fs ops — never across the data write.
    testHookBeforePublish.foreach(h => h(root, name))
    withPublishLock(root) {
      if (!claimToken(fs, claimPath(root, name)).contains(token))
        throw new ConcurrentCommitException(
          s"claim on $name at $root was broken between fence #2 and " +
            s"publish — recompute and retry")
      publishPointer(spark, root, name)
    }
    name
  }

  private[graft] def claimPath(root: String, name: String): Path =
    new Path(new Path(root, SnapshotsDir), s"$name.claim")

  /** `<token>\t<epoch-millis>` content of a claim file, if readable. */
  private def claimContent(fs: FileSystem, p: Path): Option[(String, Long)] =
    try {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
              finally in.close()
      val i = s.indexOf('\t')
      if (i < 0) None else Some((s.substring(0, i), s.substring(i + 1).toLong))
    } catch { case _: java.io.IOException | _: NumberFormatException => None }

  private def claimToken(fs: FileSystem, p: Path): Option[String] =
    claimContent(fs, p).map(_._1)

  /** Atomically take version slot `name` or raise
    * [[ConcurrentCommitException]]. Create-exclusive is the CAS; an
    * existing claim is broken only when its version was never published
    * AND its stamp exceeds the TTL. */
  private def claimSlot(spark: SparkSession, fs: FileSystem, root: String,
                        name: String, token: String, ttlMs: Long): Unit = {
    val claim = claimPath(root, name)
    val lock = claimLocks.computeIfAbsent(claim.toString, _ => new Object)
    lock.synchronized {
      def tryCreate(): Boolean =
        try {
          val out = fs.create(claim, false)
          try out.write(s"$token\t${System.currentTimeMillis()}".getBytes("UTF-8"))
          finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      if (tryCreate()) return
      // slot taken: published claims are permanent commit records; an
      // unpublished one is breakable once its writer is presumed dead
      val published = currentName(spark, root).exists(_ >= name)
      val stale = claimContent(fs, claim)
        .forall { case (_, ts) => System.currentTimeMillis() - ts > ttlMs }
      if (!published && stale) {
        testHookBeforeBreak.foreach(h => h())
        // the break itself runs under the publish lock, re-validating
        // BOTH conditions inside it: between the pre-lock reads above and
        // acquiring the lock, the claimant may have published (the claim
        // became a permanent commit record — breaking it would hand a
        // live version dir to this writer) — that re-check, paired with
        // commitFrom holding the same lock across its final token check +
        // pointer flip, is what makes breaker-vs-writer double-publish
        // impossible rather than merely unlikely.
        val broke = withPublishLock(root) {
          val publishedNow = currentName(spark, root).exists(_ >= name)
          val staleNow = claimContent(fs, claim)
            .forall { case (_, ts) => System.currentTimeMillis() - ts > ttlMs }
          if (!publishedNow && staleNow) {
            fs.delete(claim, false)
            tryCreate()
          } else false
        }
        if (broke) return
      }
      throw new ConcurrentCommitException(
        s"version $name at $root already claimed by a racing writer — " +
          s"re-read the current snapshot and retry")
    }
  }

  /** Atomically point `_CURRENT` at `name` — delegates to
    * [[GenLog.writePointer]], the one copy of the temp-file +
    * rename-with-overwrite atomicity argument. */
  private[graft] def publishPointer(spark: SparkSession, root: String,
                                    name: String): Unit =
    GenLog.writePointer(spark, new Path(root, PointerFile), name)

  /** Delete snapshot dirs that are not retained — superseded snapshots
    * plus orphans from writer crashes. Retained = the `keepLast` highest
    * sequence numbers, the current version, and (to fixpoint) every
    * version any retained manifest references — an incremental snapshot
    * carries unchanged partitions by reference to older version dirs, so
    * a kept version must keep its references alive or [[readAt]] on it
    * would dangle. Returns the number deleted. Safe to run concurrently
    * with readers of the current snapshot: nothing a retained version
    * can reach is ever deleted. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int = 2): Int = {
    val snaps = new Path(root, SnapshotsDir)
    val fs = fsOf(snaps, spark)
    if (!fs.exists(snaps)) return 0
    val current = currentName(spark, root)
    // version dirs ONLY: `<name>.stats.parquet` sidecars are directories
    // under _snapshots too, and counting one as a version would both
    // shrink the keepLast retention window (sidecars sort after their
    // version) and vacuum live sidecars
    val all = fs.listStatus(snaps)
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d{9}"))
      .map(_.getPath.getName)
    var keep = all.sorted.takeRight(math.max(keepLast, 1)).toSet ++ current
    var frontier = keep
    while (frontier.nonEmpty) {
      val refs = frontier.flatMap(n =>
        readManifest(spark, root, n).map(_.values.toSet).getOrElse(Set.empty))
      frontier = refs -- keep
      keep ++= frontier
    }
    val victims = all.filterNot(keep.contains)
    victims.foreach { n =>
      fs.delete(new Path(snaps, n), true)
      fs.delete(manifestPath(root, n), false)
      // file-stats sidecar (store.FileStats) — a directory sibling, like
      // the manifest but parquet-shaped, hence the recursive delete
      fs.delete(new Path(snaps, n + FileStats.StatsSuffix), true)
      fs.delete(claimPath(root, n), false)
    }
    // claim files are the commit records of their version dirs; once the
    // dir is gone (vacuumed above, or a writer crashed between claim and
    // write) a claim only blocks slot reuse — collect it when its version
    // is already superseded or its writer is past the break TTL
    fs.listStatus(snaps).filter(f =>
      f.isFile && f.getPath.getName.endsWith(".claim")).foreach { f =>
      val ver = f.getPath.getName.stripSuffix(".claim")
      val dirGone = !fs.exists(new Path(snaps, ver))
      val superseded = current.exists(_ >= ver)
      val stale = claimContent(fs, f.getPath).forall { case (_, ts) =>
        System.currentTimeMillis() - ts > DefaultClaimTtlMs }
      if (dirGone && (superseded || stale)) fs.delete(f.getPath, false)
    }
    // orphan stats sidecars: a sidecar whose version dir is gone (JVM
    // death between sidecar write and publish, then slot never reused)
    // describes deleted files — collect it like the claim records
    fs.listStatus(snaps).filter(st => st.isDirectory &&
      st.getPath.getName.endsWith(FileStats.StatsSuffix)).foreach { st =>
      val ver = st.getPath.getName.stripSuffix(FileStats.StatsSuffix)
      if (!fs.exists(new Path(snaps, ver))) fs.delete(st.getPath, true)
    }
    victims.length
  }

  // ------------------------------------------------- partition manifests
  // An incremental snapshot need not rewrite the whole table: its
  // manifest maps each hive partition path (e.g.
  // "quality_tier=high/year=2025/month=1") to the VERSION DIR holding
  // that partition's current data — freshly-written partitions point at
  // the new version, unchanged ones carry the older version forward by
  // reference. The manifest is written before the pointer flip, so it
  // becomes visible atomically with its snapshot.

  private[graft] def manifestPath(root: String, name: String): Path =
    new Path(new Path(root, SnapshotsDir), s"$name.manifest")

  /** entries for `name`, if that version has a manifest. */
  def readManifest(spark: SparkSession, root: String,
                   name: String): Option[Map[String, String]] = {
    val p = manifestPath(root, name)
    val fs = fsOf(p, spark)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty)
        .map { line =>
          val i = line.lastIndexOf('\t')
          line.substring(0, i) -> line.substring(i + 1)
        }.toMap)
      finally in.close()
    }
  }

  private[graft] def writeManifest(spark: SparkSession, root: String,
                                   name: String,
                                   entries: Map[String, String]): Unit = {
    val p = manifestPath(root, name)
    val fs = fsOf(p, spark)
    val out = fs.create(p, true)
    try out.write(entries.toSeq.sorted.map { case (rel, ver) => s"$rel\t$ver" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Current entries regardless of how the snapshot was produced: a
    * manifest if one exists, else every hive partition dir of the plain
    * snapshot (a full publish), keyed by relative partition path. */
  def currentEntries(spark: SparkSession, root: String,
                     depth: Int): Option[Map[String, String]] =
    currentName(spark, root).map { name =>
      readManifest(spark, root, name).getOrElse(freshEntries(spark,
        new Path(new Path(root, SnapshotsDir), name).toString, depth))
    }

  /** rel-dir → version map of the hive partition dirs a publishing
    * commit just wrote under version dir `dir` — the FRESH half of
    * every incremental manifest (the carried half comes from
    * [[currentEntries]] of the previous version). ONE copy of the
    * path-decoding argument: both sides of the rel key go through
    * `Path.toUri.getPath`, so hive escaping and %-encoding can never
    * drift between the glob and the manifest spelling (the bug class
    * six hand-rolled copies of this snippet each had to re-argue). */
  def freshEntries(spark: SparkSession, dir: String,
                   depth: Int): Map[String, String] = {
    val dirPath = new Path(dir)
    val name = dirPath.getName
    val fs = fsOf(dirPath, spark)
    val glob = new Path(dir, Seq.fill(depth)("*=*").mkString("/"))
    Option(fs.globStatus(glob)).getOrElse(Array.empty)
      .map(_.getPath.toUri.getPath
        .stripPrefix(dirPath.toUri.getPath).stripPrefix("/") -> name)
      .toMap
  }

  /** Read a partition-manifest table: union of each referenced partition
    * dir with its partition-column values re-attached from the path
    * segments (stringly-typed, matching partition-type inference off). */
  def readPartitioned(spark: SparkSession, root: String,
                      partitionColumns: Seq[String]): org.apache.spark.sql.DataFrame = {
    val entries = currentEntries(spark, root, partitionColumns.length)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no $PointerFile pointer under $root — table never committed"))
    readEntries(spark, root, entries)
  }

  /** Union of manifest entries. ONE scan relation per referenced
    * VERSION dir (`basePath` re-attaches the partition values from the
    * dir names — stringly, matching partition-type inference off), not
    * one per partition: a manifest naming 100k partitions must not
    * become a 100k-way union plan (Catalyst analysis goes quadratic
    * long before that), and the union width here is bounded by the
    * retention window instead. `mergeSchema` keeps per-partition schema
    * drift readable, as the per-partition union form did. A given
    * `schema` replaces the inference (no footer job) and types an empty
    * entry map as an empty frame; without one, no entries is an error —
    * there is no file to take a schema from. */
  private[graft] def readEntries(spark: SparkSession, root: String,
                                 entries: Map[String, String],
                                 schema: Option[StructType] = None): DataFrame = {
    if (entries.isEmpty) return schema
      .map(spark.createDataFrame(java.util.Collections.emptyList[Row](), _))
      .getOrElse(throw new IllegalArgumentException(
        s"no partition entries to read under $root"))
    val byVersion = entries.toSeq.groupBy(_._2)
    val parts = byVersion.toSeq.sortBy(_._1).map { case (ver, es) =>
      val base = new Path(new Path(root, SnapshotsDir), ver)
      val dirs = es.map { case (rel, _) => new Path(base, rel).toString }.sorted
      val reader = spark.read.option("basePath", base.toString)
      schema.fold(reader.option("mergeSchema", "true"))(reader.schema)
        .parquet(dirs: _*)
    }
    parts.reduceLeft(_.unionByName(_, allowMissingColumns = true))
  }
}

/** Strategy for how a full-table rewrite becomes visible to readers. */
sealed trait TableCommit {
  /** Does the table exist (has it ever been published)? */
  def exists(spark: SparkSession, path: String): Boolean
  /** Read the current published snapshot. */
  def read(spark: SparkSession, path: String): DataFrame
  /** Publish `df` as the table's new full snapshot; returns rows written. */
  def publish(df: DataFrame, path: String, partitionColumns: Seq[String]): Long
  /** The version a read-modify-write cycle should fence its publish on —
    * capture BEFORE [[read]], hand to [[publishFrom]]. None when the
    * protocol has no version notion (directory swap) or the table has
    * never been published. */
  def version(spark: SparkSession, path: String): Option[String] = None
  /** [[publish]] fenced on `base`: raises
    * [[ConcurrentCommitException]] if another writer published since
    * `base` was captured, instead of silently overwriting their commit.
    * Protocols without versions degrade to last-writer-wins [[publish]]. */
  def publishFrom(df: DataFrame, path: String, partitionColumns: Seq[String],
                  base: Option[String]): Long =
    publish(df, path, partitionColumns)
}

object TableCommit {
  /** Write `df` as (optionally partitioned) parquet and return the row
    * count OBSERVED during the write job itself (`Dataset.observe` +
    * `Observation`) — the count costs one metric accumulator, where the
    * previous read-back (`spark.read.parquet(written).count()`) re-listed
    * and footer-scanned everything just written, doubling publish
    * metadata I/O on every merge/ETL commit. */
  private[store] def writeCounted(df: DataFrame, path: String,
                                  partitionColumns: Seq[String]): Long = {
    val obs = org.apache.spark.sql.Observation()
    val counted = df.observe(obs, org.apache.spark.sql.functions
      .count(org.apache.spark.sql.functions.lit(1)).as("rows"))
    val w = counted.write.mode(SaveMode.Overwrite)
    (if (partitionColumns.nonEmpty) w.partitionBy(partitionColumns: _*) else w)
      .parquet(path)
    obs.get("rows").asInstanceOf[Long]
  }
}

/** Write-to-temp-sibling + directory rename. Atomic on HDFS/POSIX — the
  * right default for the local/HDFS clusters this library targets — but
  * NOT on S3-style object stores; use [[PointerCommit]] there.
  *
  * [[version]] reads a `_version` counter file the publish writes INTO
  * the tmp dir BEFORE the swap — so the stamp is atomic with the data it
  * describes (a failed rename leaves the old dir with the old stamp).
  * Underscore-prefixed files are invisible to Spark's parquet reader, so
  * the layout readers see is unchanged. publishFrom still degrades to
  * last-writer-wins (documented on the trait); the stamp exists so
  * read-modify-write callers can IDENTIFY the state they read — the
  * Scd2 closed-region retry-dedup keys its merge identity on it. */
object DirectorySwapCommit extends TableCommit {
  private val VersionFile = "_version"

  override def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  override def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  override def version(spark: SparkSession, path: String): Option[String] = {
    val vf = new Path(path, VersionFile)
    val fs = vf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(vf)) None
    else {
      val in = fs.open(vf)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  private def writeVersion(fs: org.apache.hadoop.fs.FileSystem,
                           dir: Path, v: String): Unit = {
    val out = fs.create(new Path(dir, VersionFile), true)
    try out.write(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Advance the version stamp in place — for writers that mutate the
    * table WITHOUT a whole-dir swap (the Scd2 churned-partition
    * publish). Call after the data mutation lands. A crash in between
    * leaves a STALE stamp: the data is intact, but the next reader sees
    * the pre-mutation counter over post-mutation bytes — so any
    * identity keyed on this counter alone can alias two distinct
    * states. Callers that key decisions on "which state did I read"
    * must mix in something the mutation itself changes (Scd2's merge
    * identity adds a file-inventory fingerprint for exactly this
    * window). */
  def bumpVersion(spark: SparkSession, path: String): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = (version(spark, path).flatMap(v =>
      scala.util.Try(v.toLong).toOption).getOrElse(0L) + 1L).toString
    writeVersion(fs, target, next)
  }

  override def publish(df: DataFrame, path: String,
                       partitionColumns: Seq[String]): Long = {
    val spark = df.sparkSession
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = (version(spark, path).flatMap(v =>
      scala.util.Try(v.toLong).toOption).getOrElse(0L) + 1L).toString
    if (!fs.exists(target)) {
      val written = TableCommit.writeCounted(df, path, partitionColumns)
      writeVersion(fs, target, next)
      return written
    }
    // sibling of the normalized target (raw string concat would nest the
    // tmp dir inside the target on a trailing-slash path)
    val tmp = new Path(target.getParent, target.getName + "__tmp_swap")
    val written = TableCommit.writeCounted(df, tmp.toString, partitionColumns)
    writeVersion(fs, tmp, next)
    fs.delete(target, true)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(
        s"publish: rename $tmp -> $target failed; table left at $tmp")
    written
  }
}

/** Versioned-snapshot + atomic pointer replacement via [[SnapshotStore]] —
  * the object-store-safe protocol. Readers go through the pointer, so a
  * writer crash at ANY step leaves them on the old snapshot. */
object PointerCommit extends TableCommit {
  override def exists(spark: SparkSession, path: String): Boolean =
    SnapshotStore.currentName(spark, path).isDefined

  override def read(spark: SparkSession, path: String): DataFrame =
    SnapshotStore.read(spark, path)

  override def version(spark: SparkSession, path: String): Option[String] =
    SnapshotStore.currentName(spark, path)

  override def publish(df: DataFrame, path: String,
                       partitionColumns: Seq[String]): Long =
    publishFrom(df, path, partitionColumns,
      SnapshotStore.currentName(df.sparkSession, path))

  override def publishFrom(df: DataFrame, path: String,
                           partitionColumns: Seq[String],
                           base: Option[String]): Long = {
    val spark = df.sparkSession
    var written = 0L
    SnapshotStore.commitFrom(spark, path, base) { dir =>
      written = TableCommit.writeCounted(df, dir, partitionColumns)
    }
    written
  }
}
