package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

/** The one table commit protocol and the one snapshot format: versioned
  * immutable snapshot directories, one manifest per version, and an
  * atomically-replaced single-file pointer.
  *
  * Layout:
  * {{{
  *   <root>/_snapshots/v000000001/            immutable parquet snapshot dirs
  *   <root>/_snapshots/v000000001.manifest    its entries and schema
  *   <root>/_snapshots/v000000002/
  *   <root>/_snapshots/v000000002.manifest
  *   <root>/_CURRENT                          one small file naming the live version
  * }}}
  *
  * Every version, full, incremental or empty, has a manifest: its
  * partition entries (relative hive partition path → the version dir
  * holding that partition's files; "" names a whole unpartitioned dir),
  * the schema each referenced version was written with, and the schema
  * the version reads with. Readers take both from the manifest, so no
  * read infers a schema with a Spark job, and a version with no entries
  * reads as a typed empty table. The manifest plays the part of Delta's
  * log entry and of Iceberg's manifest list.
  *
  * Every table graft writes (silver flat or regioned, gold, the gold
  * imputation stats, the curated corpus) publishes through [[publish]];
  * the reference got the same guarantee from Delta's transaction log
  * (silver_etl_script.py:922-961). A publish writes a brand-new
  * snapshot directory and its manifest, which nothing names yet, then
  * makes them visible by replacing ONE tiny pointer ([[GenLog]] holds
  * the single rename). No live byte is deleted or moved before the flip,
  * so a writer crash at any step leaves readers on the old snapshot and
  * a racing reader sees the old or the new one, never a mix. The flip is
  * atomic on POSIX and HDFS; an object-store deployment substitutes a
  * single-object PUT, atomic per key.
  * An orphaned, invisible snapshot dir from a crash is collected by
  * [[vacuum]] (the VACUUM analogue, silver_etl_script.py:985-988).
  *
  * Readers go through this object (or [[PointerCommit]]): a bare
  * `spark.read.parquet(root)` sees nothing, because `_snapshots/` is a
  * hidden name.
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

  /** Read the live snapshot through its manifest. Throws if the table
    * has never been committed. */
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
    * it, regardless of how many commits have happened since — its
    * entries (including partitions it carried forward by reference from
    * older versions) read with its stored schema, and no Spark job.
    * Throws FileNotFoundException once [[vacuum]] has collected the
    * version; retention is the `keepLast` window plus anything a kept
    * manifest still references. */
  def readAt(spark: SparkSession, root: String, name: String): DataFrame = {
    val m = manifest(spark, root, name)
    readEntries(spark, root, name, m, m.entries)
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
    * Cost is O(unshared entries) plus key-column scans. An entry with
    * the same relative path and the same immutable version dir on both
    * sides is the same files, so it holds the same rows and can add no
    * change: only the from-only and to-only entries are content-diffed,
    * and a shared entry is read for its key column alone. Two full
    * publishes share nothing, and then this is the full diff. Key
    * survival is decided over the WHOLE version (unshared and shared
    * keys alike), with key-column-only scans.
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
    val (from, to) = (manifest(spark, root, vFrom), manifest(spark, root, vTo))
    val s = splitEntries(from.entries, to.entries)
    // every side read is typed by its whole version's schema
    def fromSide(es: Map[String, String]) = readEntries(spark, root, vFrom, from, es)
    def toSide(es: Map[String, String]) = readEntries(spark, root, vTo, to, es)
    if (s.fromOnly.isEmpty && s.toOnly.isEmpty) {
      // no entry differs: an empty feed, typed by analysis alone
      val feed = diffFeed(fromSide(Map.empty), toSide(Map.empty), None, keyCols)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), feed.schema)
    } else diffFeed(fromSide(s.fromOnly), toSide(s.toOnly),
      Some(s.shared).filter(_.nonEmpty).map(fromSide), keyCols)
  }

  /** One version pair's partition entries, split by whether both sides
    * hold the same files. */
  private[graft] case class EntrySplit(shared: Map[String, String],
                                      fromOnly: Map[String, String],
                                      toOnly: Map[String, String])

  /** Split two versions' entries into shared (same relative path, same
    * version dir), from-only and to-only. Entries at different depths
    * never share a path, so a flat republish shares nothing. */
  private[graft] def splitEntries(from: Map[String, String],
                                  to: Map[String, String]): EntrySplit = {
    val shared = from.filter { case (rel, v) => to.get(rel).contains(v) }
    EntrySplit(shared, from -- shared.keys, to -- shared.keys)
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

  /** THE table publish. Writes `df` into a fresh version dir,
    * hive-partitioned on `partitionColumns`; then the version's manifest:
    * the fresh partition entries, plus every entry of `base` that
    * `replaces` does not claim, carried forward by reference; then, with
    * `stats`, the file-stats sidecar ([[FileStats]]); then flips the
    * pointer, fenced on `base` ([[commitFrom]]).
    *
    * `replaces` names partitions of `base` by their values (column →
    * value, null for a null partition). None is a full publish: nothing
    * is carried. A carrying publish requires the base's entries to be
    * partitioned by the same columns, so it can never silently drop a
    * flat base's rows.
    *
    * Returns the version name and the rows written, counted by
    * `Dataset.observe` during the write job itself, not by a read-back. */
  def publish(df: DataFrame, root: String, partitionColumns: Seq[String],
              base: Option[String],
              replaces: Option[Map[String, String] => Boolean] = None,
              stats: Option[FileStats.StatCols] = None): (String, Long) = {
    val spark = df.sparkSession
    val carried = replaces.fold(Manifest.Empty) { claims =>
      val prev = base.fold(Manifest.Empty)(manifest(spark, root, _))
      val layouts = prev.entries.keys.map(partitionValues(_).map(_._1)).toSet
      require(layouts.forall(_ == partitionColumns),
        s"cannot carry the partitions of $root forward: they are laid out " +
          s"by [${layouts.map(_.mkString(",")).mkString("; ")}], this " +
          s"publish by [${partitionColumns.mkString(",")}]")
      prev.copy(entries = prev.entries.filterNot { case (rel, _) =>
        claims(partitionValues(rel).toMap) })
    }
    var rows = 0L
    val name = commitFrom(spark, root, base) { dir =>
      val (m, n) = writeVersion(df, dir, partitionColumns, carried)
      rows = n
      stats.foreach(FileStats.writeSidecar(spark, root, new Path(dir).getName,
        m, base, _))
      m
    }
    (name, rows)
  }

  /** The version a commit fenced on `base` claims. */
  def nextVersion(base: Option[String]): String = {
    val seq = base
      .flatMap(n => "^v(\\d+)".r.findFirstMatchIn(n).map(_.group(1).toLong))
      .getOrElse(0L)
    f"v${seq + 1}%09d"
  }

  /** Write `df` into version dir `dir` and build its manifest: `carried`
    * plus the fresh entries, each version's own schema (its data
    * columns, then its partition columns as strings, all nullable: what
    * a parquet read of it returns), and the read schema. The write step
    * of [[publish]]; the row count is observed during the write. */
  private[graft] def writeVersion(df: DataFrame, dir: String,
                                  partitionColumns: Seq[String],
                                  carried: Manifest = Manifest.Empty): (Manifest, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val w = df.observe(obs, count(lit(1)).as("rows")).write.mode(SaveMode.Overwrite)
    (if (partitionColumns.nonEmpty) w.partitionBy(partitionColumns: _*) else w)
      .parquet(dir)
    val name = new Path(dir).getName
    val fresh =
      if (partitionColumns.isEmpty) Map("" -> name)
      else freshEntries(df.sparkSession, dir, partitionColumns.length)
    val own = nullable(StructType(
      df.schema.fields.filterNot(f => partitionColumns.contains(f.name)) ++
        partitionColumns.map(StructField(_, StringType)))).asInstanceOf[StructType]
    val entries = carried.entries ++ fresh
    val refs = entries.values.toSet
    val schemas = carried.schemas.filter { case (v, _) => refs(v) } ++
      (if (fresh.nonEmpty) Map(name -> own) else Map.empty)
    val read = schemas.toSeq.sortBy(_._1).map(_._2).distinct match {
      case Seq() => own
      case Seq(one) => one
      // what a union of the versions' scans types to, taken from the
      // analyzer over empty frames: no data is touched
      case many => many.map(emptyFrame(df.sparkSession, _))
        .reduceLeft(_.unionByName(_, allowMissingColumns = true)).schema
    }
    (Manifest(entries, schemas, read), obs.get("rows").asInstanceOf[Long])
  }

  /** The schema a parquet scan reports for files written with `t`. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** The version-publish primitive under [[publish]]: claim version
    * slot `base+1`, let `write` fill its dir and return its manifest,
    * write the manifest, then flip the pointer. No pointer is ever
    * flipped without a manifest. Returns the new snapshot name.
    *
    * The commit is valid only against `base` — the version the caller
    * READ when it computed what it is about to write (None for a first
    * load). A read-modify-write cycle (SCD2 merge, compaction,
    * incremental gold) passes the version it read; if any other writer
    * publishes in between, this commit fails with
    * [[ConcurrentCommitException]] instead of silently dropping the
    * interloper's snapshot — the lost-update guard the reference
    * inherited from Delta's optimistic transaction protocol
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
    *  3. Write the snapshot data into the claimed version dir, then its
    *     manifest.
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
    * A throw anywhere in steps 3-5 releases the claim if it is still
    * ours and the pointer does not name this version, so a plain retry
    * re-claims the slot at once (CrashPointSpec fails each filesystem
    * step in turn). The loser's retry re-enters with the WINNER's version as its new
    * base and lands on top — nothing is ever silently dropped. */
  private[graft] def commitFrom(spark: SparkSession, root: String,
                                base: Option[String],
                                claimTtlMs: Long = DefaultClaimTtlMs)
                               (write: String => Manifest): String = {
    val rootPath = new Path(root)
    val fs = fsOf(rootPath, spark)
    val cur0 = currentName(spark, root)
    if (cur0 != base)
      throw new ConcurrentCommitException(
        s"table $root advanced to ${cur0.getOrElse("<none>")} since this " +
          s"commit read ${base.getOrElse("<none>")} — re-read and retry")
    val name = nextVersion(base)
    val token = java.util.UUID.randomUUID().toString
    claimSlot(spark, fs, root, name, token, claimTtlMs)
    val dir = new Path(new Path(rootPath, SnapshotsDir), name)
    // from here on, a throw anywhere before the flip releases the slot
    // while we still own it, so a plain retry re-claims the same version
    // without waiting out the TTL. The crashed attempt's files stay on
    // disk, invisible. A claim whose version the pointer already names
    // (the flip landed, then something threw) is a commit record and is
    // never released. Only JVM death leaves a claim that must age out.
    try {
      // we own the slot, so anything already at its dir is debris from a
      // crashed earlier attempt (a PUBLISHED version could not be
      // claimed); clear it, and the crashed attempt's stats sidecar
      // sibling, which would otherwise describe deleted files, so the
      // callback starts clean in any save mode
      if (fs.exists(dir)) fs.delete(dir, true)
      fs.delete(new Path(new Path(rootPath, SnapshotsDir),
        name + FileStats.StatsSuffix), true)
      writeManifest(fs, root, name, write(dir.toString))
      // fence #2: between our claim and this point a TTL-breaker may
      // have taken the slot, or (if our claim was broken) the table may
      // have moved; check ownership FIRST: once the claim is someone
      // else's, the version dir is theirs too and we must not delete it
      if (!claimToken(fs, claimPath(root, name)).contains(token))
        throw new ConcurrentCommitException(
          s"claim on $name at $root was broken (writer presumed crashed " +
            s"after ${claimTtlMs}ms) and the slot re-used — recompute and retry")
      if (currentName(spark, root) != base) {
        fs.delete(dir, true)
        // the loser's manifest and sidecar siblings go with its data
        fs.delete(manifestPath(root, name), false)
        fs.delete(new Path(new Path(rootPath, SnapshotsDir),
          name + FileStats.StatsSuffix), true)
        throw new ConcurrentCommitException(
          s"table $root advanced past ${base.getOrElse("<none>")} before " +
            s"$name could publish — recompute and retry")
      }
      // fence #3: the final ownership re-check and the pointer flip run
      // under the PUBLISH LOCK, and the TTL-breaker's delete-then-create
      // runs under the SAME lock (see claimSlot): whichever of {writer,
      // breaker} takes the lock first wins, and the loser observes either
      // a foreign claim token (writer loses → conflict, nothing
      // published) or a published version (breaker aborts its break —
      // the claim is now a commit record). On local/POSIX roots the lock
      // is an OS file lock, so the exclusion holds cross-process too; on
      // object stores the flip itself is a conditional PUT and needs no
      // lock. The lock is held for two small fs ops, never across the
      // data write.
      testHookBeforePublish.foreach(h => h(root, name))
      withPublishLock(root) {
        if (!claimToken(fs, claimPath(root, name)).contains(token))
          throw new ConcurrentCommitException(
            s"claim on $name at $root was broken between fence #2 and " +
              s"publish — recompute and retry")
        publishPointer(spark, root, name)
      }
    } catch {
      case e: Throwable =>
        scala.util.Try {
          val published = currentName(spark, root).exists(_ >= name)
          if (!published && claimToken(fs, claimPath(root, name)).contains(token))
            fs.delete(claimPath(root, name), false)
        }
        throw e
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
        readManifest(spark, root, n).map(_.entries.values.toSet).getOrElse(Set.empty))
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
    // one sweep over the records whose version dir is gone (vacuumed
    // above, or a writer or a vacuum that died part-way):
    //  - a claim only blocks slot reuse — collect it when its version is
    //    already superseded or its writer is past the break TTL;
    //  - a manifest of a version that is not retained (a failure between
    //    a victim's dir and manifest deletes) is named by nothing;
    //  - a stats sidecar (JVM death between sidecar write and publish,
    //    then slot never reused) describes deleted files.
    fs.listStatus(snaps).foreach { st =>
      val name = st.getPath.getName
      def dirGone(suffix: String) =
        !fs.exists(new Path(snaps, name.stripSuffix(suffix)))
      if (st.isFile && name.endsWith(".claim") && dirGone(".claim")) {
        val ver = name.stripSuffix(".claim")
        val superseded = current.exists(_ >= ver)
        val stale = claimContent(fs, st.getPath).forall { case (_, ts) =>
          System.currentTimeMillis() - ts > DefaultClaimTtlMs }
        if (superseded || stale) fs.delete(st.getPath, false)
      } else if (st.isFile && name.endsWith(".manifest") &&
          !keep(name.stripSuffix(".manifest")) && dirGone(".manifest"))
        fs.delete(st.getPath, false)
      else if (st.isDirectory && name.endsWith(FileStats.StatsSuffix) &&
          dirGone(FileStats.StatsSuffix))
        fs.delete(st.getPath, true)
    }
    GenLog.sweepPointerTemps(fs, new Path(root))
    victims.length
  }

  // ----------------------------------------------------------- manifests
  // A version's manifest maps each of its partition entries — a hive
  // partition path such as "quality_tier=high/year=2025/month=1", or ""
  // for a whole unpartitioned dir — to the VERSION DIR holding that
  // partition's data: fresh partitions point at the version itself,
  // carried ones at the older version that wrote them. It also records
  // the schema each referenced version was written with (each distinct
  // schema once) and the schema the version reads with. It is written
  // before the pointer flip, so it becomes visible atomically with its
  // snapshot. On disk, one tab-separated record per line:
  // {{{
  //   schema  <json>                 the distinct schemas, numbered from 0
  //   read    <n>                    the schema the version reads with
  //   version <vN> <n>               each referenced version's own schema
  //   entry   <rel> <vN>             each partition entry
  // }}}

  /** A version's manifest: `entries` (rel → version dir), `schemas`
    * (each referenced version → the schema it was written with) and
    * `schema`, the schema the version reads with. */
  private[graft] final case class Manifest(entries: Map[String, String],
                                           schemas: Map[String, StructType],
                                           schema: StructType)

  private[graft] object Manifest {
    val Empty: Manifest = Manifest(Map.empty, Map.empty, new StructType())
  }

  private[graft] def manifestPath(root: String, name: String): Path =
    new Path(new Path(root, SnapshotsDir), s"$name.manifest")

  /** The manifest of `name`, if that version has one. */
  private[graft] def readManifest(spark: SparkSession, root: String,
                                  name: String): Option[Manifest] = {
    val p = manifestPath(root, name)
    val fs = fsOf(p, spark)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val recs = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map(_.split("\t", -1).toSeq).toVector
        finally in.close()
      val schemas = recs.collect { case Seq("schema", json) =>
        DataType.fromJson(json).asInstanceOf[StructType] }
      Some(Manifest(
        recs.collect { case Seq("entry", rel, v) => rel -> v }.toMap,
        recs.collect { case Seq("version", v, i) => v -> schemas(i.toInt) }.toMap,
        recs.collectFirst { case Seq("read", i) => schemas(i.toInt) }.get))
    }
  }

  /** [[readManifest]], or FileNotFoundException for a version that was
    * never published or has been vacuumed. */
  private def manifest(spark: SparkSession, root: String, name: String): Manifest =
    readManifest(spark, root, name).getOrElse(throw new java.io.FileNotFoundException(
      s"snapshot $name not found under $root — never published or vacuumed"))

  private[graft] def writeManifest(fs: FileSystem, root: String, name: String,
                                   m: Manifest): Unit = {
    val distinct = (m.schema +: m.schemas.toSeq.sortBy(_._1).map(_._2)).distinct
    val num = distinct.zipWithIndex.toMap
    val recs = distinct.map(s => Seq("schema", s.json)) ++
      Seq(Seq("read", num(m.schema).toString)) ++
      m.schemas.toSeq.sortBy(_._1).map { case (v, s) => Seq("version", v, num(s).toString) } ++
      m.entries.toSeq.sorted.map { case (rel, v) => Seq("entry", rel, v) }
    val out = fs.create(manifestPath(root, name), true)
    try out.write(recs.map(_.mkString("\t")).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The live version's entries. */
  def currentEntries(spark: SparkSession, root: String): Option[Map[String, String]] =
    currentName(spark, root).map(manifest(spark, root, _).entries)

  /** The (column, value) pairs a partition entry names, in path order,
    * unescaped; a null partition's value is null. "" names none. The
    * one decoder of hive partition paths; [[freshEntries]] takes the
    * paths as the writer spelled them on disk. */
  def partitionValues(rel: String): Seq[(String, String)] =
    if (rel.isEmpty) Nil
    else rel.split('/').toSeq.map { seg =>
      val Array(k, v) = seg.split("=", 2)
      ExternalCatalogUtils.unescapePathName(k) ->
        (if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
         else ExternalCatalogUtils.unescapePathName(v))
    }

  /** The directory of entry `rel` written by version `ver`. */
  private[graft] def entryDir(root: String, rel: String, ver: String): Path = {
    val base = new Path(new Path(root, SnapshotsDir), ver)
    if (rel.isEmpty) base else new Path(base, rel)
  }

  /** rel-dir → version map of the hive partition dirs a publish just
    * wrote under version dir `dir`: both sides of the rel key go through
    * `Path.toUri.getPath`, so the manifest holds the on-disk spelling. */
  private def freshEntries(spark: SparkSession, dir: String,
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

  /** [[read]] of a table partitioned by `partitionColumns`: the
    * partition values come back as string columns. */
  def readPartitioned(spark: SparkSession, root: String,
                      partitionColumns: Seq[String]): DataFrame = {
    val df = read(spark, root)
    require(partitionColumns.forall(df.columns.contains),
      s"$root has no partition column among ${partitionColumns.mkString(", ")}")
    df
  }

  /** The one reader: entries `es` of version `name`'s manifest `m`,
    * typed by its stored schema. ONE scan relation per
    * referenced VERSION dir (`basePath` re-attaches the partition values
    * from the dir names, as strings), not one per partition: a manifest
    * naming 100k partitions must not become a 100k-way union plan
    * (Catalyst analysis goes quadratic long before that), and the union
    * width here is bounded by the retention window instead. When `es`
    * is the whole manifest, the entries `name` wrote itself are its whole
    * dir, read as one path, as a plain parquet read of it would be. */
  private[graft] def readEntries(spark: SparkSession, root: String, name: String,
                                 m: Manifest, es: Map[String, String]): DataFrame = {
    val whole = es == m.entries
    scan(spark, root, m.schema, es.toSeq.groupBy(_._2).toSeq.map {
      case (ver, _) if whole && ver == name => ver -> Seq(entryDir(root, "", ver))
      case (ver, part) => ver -> part.map { case (rel, _) => entryDir(root, rel, ver) }
    })
  }

  /** Data files of version `name` (as a stats sidecar names them:
    * `input_file_name` URIs), read like [[readEntries]]. */
  private[graft] def readFiles(spark: SparkSession, root: String, name: String,
                               files: Seq[String]): DataFrame = {
    // a URI is %-encoded on top of the (already hive-escaped) on-disk
    // name; spark.read takes a path string literally, so the URI layer is
    // undone exactly once
    val paths = files.map(f => new Path(new java.net.URI(f)))
    def version(p: Path): String =
      Iterator.iterate(p)(_.getParent).takeWhile(_ != null)
        .find(q => q.getParent != null && q.getParent.getName == SnapshotsDir)
        .map(_.getName).getOrElse(throw new IllegalArgumentException(
          s"$p is not a snapshot data file under $root"))
    scan(spark, root, manifest(spark, root, name).schema, paths.groupBy(version).toSeq)
  }

  private def scan(spark: SparkSession, root: String, schema: StructType,
                   parts: Seq[(String, Seq[Path])]): DataFrame =
    if (parts.isEmpty) emptyFrame(spark, schema)
    else {
      val df = parts.sortBy(_._1).map { case (ver, paths) =>
        spark.read.option("basePath", entryDir(root, "", ver).toString)
          .schema(schema).parquet(paths.map(_.toString).sorted: _*)
      }.reduceLeft(_.unionByName(_))
      // a scan puts the partition columns last; the stored order may not
      if (df.columns.sameElements(schema.fieldNames)) df
      else df.select(schema.fieldNames.map(c => df.col(s"`$c`")).toIndexedSeq: _*)
    }
}

/** Full-table publishes and reads over [[SnapshotStore]]: readers go
  * through the pointer, so a writer crash at ANY step leaves them on the
  * old snapshot. */
object PointerCommit {
  /** Has the table ever been published? */
  def exists(spark: SparkSession, path: String): Boolean =
    SnapshotStore.currentName(spark, path).isDefined

  /** The current published snapshot. */
  def read(spark: SparkSession, path: String): DataFrame =
    SnapshotStore.read(spark, path)

  /** The version a read-modify-write cycle fences its publish on:
    * capture BEFORE [[read]], hand to [[publishFrom]]. None when the
    * table has never been published. */
  def version(spark: SparkSession, path: String): Option[String] =
    SnapshotStore.currentName(spark, path)

  /** Publish `df` as the table's new full snapshot; returns rows written. */
  def publish(df: DataFrame, path: String, partitionColumns: Seq[String]): Long =
    publishFrom(df, path, partitionColumns,
      SnapshotStore.currentName(df.sparkSession, path))

  /** [[publish]] fenced on `base`: raises [[ConcurrentCommitException]]
    * if another writer published since `base` was captured, instead of
    * silently overwriting their commit. */
  def publishFrom(df: DataFrame, path: String, partitionColumns: Seq[String],
                  base: Option[String]): Long =
    SnapshotStore.publish(df, path, partitionColumns, base)._2
}
