package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one id-keyed index kind supplies to [[IndexLifecycle]]: the
  * rows a batch becomes, how a generation writes them (plus the dirs
  * derived from the written rows), and the tags that keep its
  * generations apart from another kind's or geometry's. */
trait IndexKind {
  /** Meta format token: the layout version, geometry folded in, so a
    * generation at another geometry reads as stale. */
  def fmt: Int
  /** Memo-token suffix telling geometries that share a root apart. */
  def geom: String
  /** Names the index in errors, e.g. "band index at geometry 16x4". */
  def label: String
  /** The dir a chain reader unions; its rows carry `__id`. */
  def dataDir: String
  /** The payload column as stored and fingerprinted. */
  def payload(c: Column): Column = c
  /** Index rows of a projected batch `(__id: long, __p: payload)`. */
  def rows(b: DataFrame): DataFrame
  /** Write `rows` into generation dir `gen`: [[dataDir]], then the
    * dirs derived from the written parquet, so the two never disagree. */
  def write(spark: SparkSession, gen: Path, rows: DataFrame): Unit
}

/** The validation and advance path shared by the persisted id-keyed
  * indexes ([[graft.operators.LshBandIndex]],
  * [[graft.operators.CosineLshIndex]], [[graft.operators.TextIndex]]):
  * generations published through [[GenLog.publish]] under an index
  * root, a per-JVM build lock and validation memo, and growth by delta
  * generations (the incremental top-k maintenance pattern). One
  * instance per index module; the module passes the root and its
  * [[IndexKind]] on every call.
  *
  *  - [[ensure]] (bare corpus frame): reuses the live generation only
  *    when its recorded row count AND xor content fingerprint match the
  *    frame (one narrow scan); otherwise rebuilds. CONTRACT: a bare key
  *    names an IMMUTABLE corpus — once validated in a JVM the memo
  *    short-circuits without recounting, so a caller that rebinds a key
  *    to different contents is served the stale index (use a new key,
  *    or the snapshot paths, which re-key the memo on every mutation).
  *  - [[ensureForSnapshot]] ([[SnapshotStore]] corpora): validity keyed
  *    on the snapshot NAME — a pointer read plus the meta row, no corpus
  *    scan at all (the 100 TB answer).
  *  - [[advanceForSnapshot]]: when the store's change feed since the
  *    indexed snapshot is pure inserts, only the new rows are indexed,
  *    as a delta; churn, a vacuumed indexed version or no index rebuild.
  *  - [[advanceForSnapshotWithBatch]]: the writer that just appended
  *    `batch` hands it over, skipping the feed diff, behind two cheap
  *    nets (row-count identity, id disjointness); a failed net falls
  *    back to [[advanceForSnapshot]].
  *  - [[advanceWithBatch]]: O(batch) delta growth. An id-overlapping
  *    batch (a re-crawl) REPLACES the overlapped ids' rows in a fresh
  *    base (batch wins, no id indexed twice); a chain at `maxChain`
  *    collapses into a fresh base (LSM compaction over stored rows,
  *    nothing recomputed from the corpus); a zero-row batch publishes a
  *    meta-only re-key generation. The xor fingerprint extends exactly
  *    over disjoint deltas (fp(a ∪ b) = fp(a) ^ fp(b)); an overlap voids
  *    it (fp=0: the next cross-JVM [[ensure]] rebuilds, safe).
  *  - [[purgeForStore]]: the RTBF companion of deleting store writers.
  */
final class IndexLifecycle(maxChain: => Int) {
  /** root -> (validity token, generation path). The token is
    * "fp:<n>:<fingerprint><geom>" for bare corpora and
    * "snap:<name><geom>" for store-published ones. Guarded by `this`. */
  private val validated =
    scala.collection.mutable.Map.empty[String, (String, String)]

  /** Full-corpus fingerprint scans this JVM has run — the test seam
    * proving snapshot-keyed revalidation never scans the corpus. */
  val fingerprintScans = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test seam: forget per-JVM validation so a spec can exercise the
    * on-disk revalidation path. */
  def resetValidationMemo(): Unit = synchronized(validated.clear())

  private def memo(root: String, token: String): Option[String] =
    validated.get(root).collect { case (t, gen) if t == token => gen }

  private def remember(root: String, token: String, gen: String): String = {
    validated(root) = (token, gen); gen
  }

  private def snapToken(snap: String, k: IndexKind) = s"snap:$snap${k.geom}"

  private def fpToken(n: Long, fp: Long, k: IndexKind) = s"fp:$n:$fp${k.geom}"

  private def snapshotOf(spark: SparkSession, storeRoot: String): String =
    SnapshotStore.currentName(spark, storeRoot)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no snapshot published under $storeRoot — commit the corpus first"))

  /** Order-insensitive content fingerprint: xor of per-row hashes over
    * (id, payload), 0 on an empty frame. XOR, not SUM: a hash sum wraps
    * Long, which ANSI mode rejects as overflow. */
  private def fingerprint(d: DataFrame): Long = {
    fingerprintScans.incrementAndGet()
    d.agg(coalesce(expr("bit_xor(xxhash64(__id, __p))"), lit(0L)))
      .head().getLong(0)
  }

  private def project(df: DataFrame, idCol: String, payCol: String,
                      k: IndexKind): DataFrame =
    df.select(col(idCol).cast("long").as("__id"),
      k.payload(col(payCol)).as("__p"))

  /** Rows of the generation chain rooted at `gen`. */
  private def rowsOf(spark: SparkSession, gen: String, k: IndexKind): DataFrame =
    GenLog.readChain(spark, new Path(gen), k.fmt, k.dataDir)

  private def build(spark: SparkSession, root: String, d: DataFrame,
                    k: IndexKind, n: Long, fp: Long,
                    snap: Option[String]): String = {
    require(n > 0, s"${k.label}: refusing to index an empty corpus ($root)")
    GenLog.publish(spark, root, GenLog.Meta(n, k.fmt, fp, snap, None))(
      gen => k.write(spark, gen, k.rows(d)))
  }

  private def rebuild(spark: SparkSession, storeRoot: String, root: String,
                      snap: String, idCol: String, payCol: String,
                      k: IndexKind): String = {
    val d = project(SnapshotStore.read(spark, storeRoot), idCol, payCol, k)
    build(spark, root, d, k, d.count(), 0L, Some(snap))
  }

  def ensure(spark: SparkSession, docs: DataFrame, root: String,
             idCol: String, payCol: String, k: IndexKind): String =
    synchronized {
      validated.get(root) match {
        case Some((t, gen)) if t.startsWith("fp:") && t.endsWith(k.geom) =>
          return gen
        case _ => ()
      }
      val d = project(docs, idCol, payCol, k)
      lazy val n = d.count()
      lazy val fp = fingerprint(d)
      val gen = GenLog.head(spark, root, k.fmt) match {
        case Some((g, m)) if m.snap.isEmpty && m.n == n && m.fp == fp =>
          g.toString
        case _ => build(spark, root, d, k, n, fp, None)
      }
      remember(root, fpToken(n, fp, k), gen)
    }

  def ensureForSnapshot(spark: SparkSession, storeRoot: String, root: String,
                        idCol: String, payCol: String,
                        k: IndexKind): String =
    synchronized {
      val snap = snapshotOf(spark, storeRoot)
      memo(root, snapToken(snap, k)).getOrElse {
        val gen = GenLog.head(spark, root, k.fmt) match {
          case Some((g, m)) if m.snap.contains(snap) => g.toString
          case _ => rebuild(spark, storeRoot, root, snap, idCol, payCol, k)
        }
        remember(root, snapToken(snap, k), gen)
      }
    }

  def advanceForSnapshot(spark: SparkSession, storeRoot: String, root: String,
                         idCol: String, payCol: String,
                         k: IndexKind): String =
    synchronized {
      val snap = snapshotOf(spark, storeRoot)
      memo(root, snapToken(snap, k)).getOrElse {
        val gen = GenLog.head(spark, root, k.fmt) match {
          case Some((g, m)) if m.snap.contains(snap) => g.toString
          case Some((_, m)) if m.snap.isDefined =>
            // the Try wraps ONLY the change-feed computation — a vacuumed
            // indexed version legitimately degrades to a rebuild. The
            // advance stays OUTSIDE it: swallowing an advance failure
            // would silently turn every advance into an O(corpus)
            // rebuild, and a failure after its pointer flip would
            // publish a redundant full generation on top of the delta.
            val inserts = scala.util.Try {
              val feed = SnapshotStore.changesBetween(
                  spark, storeRoot, m.snap.get, snap, Seq(idCol))
                .localCheckpoint(true)
              val churn = feed.filter(col("change_type") =!= "insert")
                .limit(1).count()
              (churn, feed.filter(col("change_type") === "insert"))
            }.toOption.collect { case (0L, batch) => batch }
            inserts match {
              case Some(batch) =>
                advanceWithBatch(spark, root, batch, idCol, payCol, k, Some(snap))
              case None =>
                rebuild(spark, storeRoot, root, snap, idCol, payCol, k)
            }
          case _ => rebuild(spark, storeRoot, root, snap, idCol, payCol, k)
        }
        remember(root, snapToken(snap, k), gen)
      }
    }

  def advanceForSnapshotWithBatch(spark: SparkSession, storeRoot: String,
                                  root: String, batch: DataFrame,
                                  idCol: String, payCol: String,
                                  k: IndexKind): String =
    synchronized {
      val snap = snapshotOf(spark, storeRoot)
      memo(root, snapToken(snap, k)).getOrElse {
        lazy val b = project(batch, idCol, payCol, k).localCheckpoint(true)
        // counts AND id-disjointness verified here: an overlapping batch
        // on the SNAPSHOT path must fall back to the content diff (an
        // overlap REPLACEMENT would index history∖batch ∪ batch, which
        // need not equal the snapshot the result gets keyed to). Without
        // the count net a partial batch would chain an incomplete delta
        // that the snapshot-keyed memo then serves for good.
        val viaBatch = GenLog.head(spark, root, k.fmt) match {
          case Some((g, m)) if !m.snap.contains(snap) =>
            SnapshotStore.read(spark, storeRoot).count() == m.n + b.count() &&
              !overlaps(rowsOf(spark, g.toString, k).select("__id"),
                b.select("__id"))
          case _ => false
        }
        if (viaBatch) advance(spark, root, b, k, Some(snap))
        else advanceForSnapshot(spark, storeRoot, root, idCol, payCol, k)
      }
    }

  /** `snap`, when given, re-keys validity to that snapshot name (the
    * caller has committed history ∪ batch to the store and vouches for
    * the batch; [[advanceForSnapshotWithBatch]] checks it instead). */
  def advanceWithBatch(spark: SparkSession, root: String, batch: DataFrame,
                       idCol: String, payCol: String, k: IndexKind,
                       snap: Option[String]): String =
    synchronized {
      // one batch-sized materialization feeds the overlap probe, the
      // fingerprint and the write: a non-deterministic input cannot
      // desynchronize meta from the written rows
      advance(spark, root,
        project(batch, idCol, payCol, k).localCheckpoint(true), k, snap)
    }

  /** Overlap EXISTENCE: a narrow semi-join with a limit-1 early-out. No
    * forced broadcast: the batch is localCheckpoint'd, so AQE has exact
    * sizes and auto-broadcasts it under the threshold, and a batch too
    * big to broadcast degrades to a shuffle. */
  private def overlaps(headIds: DataFrame, bIds: DataFrame): Boolean =
    headIds.join(bIds, Seq("__id"), "left_semi").limit(1).count() > 0

  private def advance(spark: SparkSession, root: String, b: DataFrame,
                      k: IndexKind, snap: Option[String]): String = {
    val (headGen, m) = GenLog.head(spark, root, k.fmt)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no live ${k.label} under $root — ensure() a base first (a " +
          "geometry change requires a rebuild, not an advance)"))
    val nb = b.count()
    val compact = GenLog.chain(spark, headGen, k.fmt).length >= maxChain
    val head = headGen.toString
    if (nb == 0) {
      // identical-content republish: a META-ONLY re-key chained to the
      // head, nothing recomputed — at the cap it collapses the chain
      // instead, so no-op republishes cannot grow it without bound
      val gen =
        if (compact)
          GenLog.publish(spark, root, m.copy(snap = snap, parent = None))(
            g => k.write(spark, g, rowsOf(spark, head, k)))
        else GenLog.publish(spark, root,
          m.copy(snap = snap, parent = Some(headGen.getName)))(_ => ())
      return remember(root,
        snap.map(snapToken(_, k)).getOrElse(fpToken(m.n, m.fp, k)),
        gen)
    }
    val headRows = rowsOf(spark, head, k)
    val bIds = b.select("__id")
    // exact count only on the corpus-sized rewrite path; the semi-join
    // runs BEFORE the distinct, so only the overlapped ids' rows shuffle
    val nOverlap =
      if (!overlaps(headRows.select("__id"), bIds)) 0L
      else headRows.select("__id").join(bIds, Seq("__id"), "left_semi")
        .distinct().count()
    val nNew = m.n + nb - nOverlap
    val fpNew =
      if (snap.isDefined || nOverlap > 0) 0L else m.fp ^ fingerprint(b)
    val rows = k.rows(b)
    val gen =
      if (nOverlap > 0 || compact) {
        val hist =
          if (nOverlap == 0) headRows
          else headRows.join(bIds, Seq("__id"), "left_anti")
        GenLog.publish(spark, root, GenLog.Meta(nNew, k.fmt, fpNew, snap, None))(
          g => k.write(spark, g, hist.unionByName(rows)))
      } else
        GenLog.publish(spark, root,
          GenLog.Meta(nNew, k.fmt, fpNew, snap, Some(headGen.getName)))(
          g => k.write(spark, g, rows))
    remember(root,
      snap.map(snapToken(_, k)).getOrElse(fpToken(nNew, fpNew, k)), gen)
  }

  /** RTBF companion, called by DELETING store writers in the same
    * operation as the row deletes: if an index exists at `root`, rebuild
    * it against the store's CURRENT snapshot and drop EVERY superseded
    * generation ([[GenLog.purge]]), so derived content of the deleted
    * rows leaves disk with the rows; delete the index outright if the
    * store emptied. No-op without an index. O(history) — the price of a
    * hard purge, paid only on deletes. Single-writer fenced like
    * `SnapshotStore.vacuum`: readers of the pruned generations must be
    * quiesced by the caller. */
  def purgeForStore(spark: SparkSession, storeRoot: String, root: String,
                    idCol: String, payCol: String, k: IndexKind): Unit =
    synchronized {
      val rootPath = new Path(root)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (GenLog.currentGen(fs, root).isDefined) {
        validated.remove(root)
        if (SnapshotStore.read(spark, storeRoot).limit(1).count() == 0L)
          fs.delete(rootPath, true)
        else {
          val snap = snapshotOf(spark, storeRoot)
          val gen = rebuild(spark, storeRoot, root, snap, idCol, payCol, k)
          GenLog.purge(spark, root, k.fmt)
          remember(root, snapToken(snap, k), gen)
        }
      }
    }

  /** The live generation at `root` in `k`'s format, if any — resolved
    * from disk, no staleness check: for callers that own every write to
    * the index (a streaming ingest advancing it per micro-batch). */
  def currentGenPath(spark: SparkSession, root: String,
                     k: IndexKind): Option[String] =
    GenLog.head(spark, root, k.fmt).map(_._1.toString)
}
