package graft.store

import java.nio.file.{Files, StandardCopyOption}
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** Generation-log primitives shared by the persisted index artifacts
  * ([[graft.operators.IvfIndex]], [[graft.operators.LshBandIndex]]):
  * a root directory holds immutable `gen-<uuid8>/` generation dirs and
  * ONE tiny `_CURRENT` pointer file naming the live generation —
  * [[SnapshotStore]]'s pointer-publish pattern applied to derived
  * artifacts that live beside a corpus rather than to tables.
  *
  * Generations may chain: a DELTA generation records its `parent` in
  * meta and readers union the chain (LSM-style append without rewriting
  * the base — the FAISS add-after-train shape for indexes). Every
  * generation carries one meta row:
  * {{{ (n, fmt, fp, snap, parent) }}}
  * `n` = logical row count covered by the chain up to this generation,
  * `fmt` = the owner's on-disk format version (an older build's layout
  * must read as "stale — rebuild", never error), `fp` = order-insensitive
  * additive content fingerprint (0 for snapshot-keyed artifacts),
  * `snap` = the SnapshotStore snapshot name this generation indexes
  * (None for bare-path corpora), `parent` = delta chain link.
  *
  * Publish protocol (atomicity argument at [[writePointer]]): write the
  * complete generation dir — invisible, nothing names it — then flip the
  * pointer via temp-file + atomic replace. Readers that resolved
  * the previous generation keep a live immutable dir; [[pruneGens]]
  * retains the superseded chain for one build cycle.
  */
object GenLog {
  val PointerFile = "_CURRENT"

  final case class Meta(n: Long, fmt: Int, fp: Long,
                        snap: Option[String], parent: Option[String])

  def pointerPath(root: String): Path = new Path(root, PointerFile)

  def newGenName(): String =
    s"gen-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Collision-resistant on-disk key for a corpus path/name: 16 hex
    * chars of MD5 (64 bits). The 32-bit `String.hashCode` the index
    * modules used before becomes a material birthday risk at ~10⁴-10⁵
    * distinct corpora, and a collision makes two corpora SHARE one
    * index root — the per-JVM validation memos then serve one corpus's
    * index for the other with no staleness check catching it. */
  def pathKey(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString

  /** THE pointer-read primitive — shared by every generation-log
    * artifact and by [[SnapshotStore.currentName]], so the parse (and
    * any future durability hardening) lives in exactly one place. */
  private[store] def readPointer(fs: FileSystem, ptr: Path): Option[String] = {
    if (!fs.exists(ptr)) return None
    val in = fs.open(ptr)
    val name =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    if (name.isEmpty) None else Some(name)
  }

  /** THE pointer-write primitive, and the one rename in main code:
    * write a temp file, then replace the pointer with it in one step.
    * Shared by [[publishGen]] and [[SnapshotStore.publishPointer]] — one
    * copy of the atomicity argument.
    *
    * On the local filesystem the replace is a single rename(2), which
    * swaps the name over atomically; FileContext's overwrite-rename
    * there deletes the old pointer first, so a reader could find no
    * pointer at all, and a crash in between left the table looking
    * never committed. The temp file is written without a checksum
    * sibling, and a stale `.crc` of the old pointer is dropped before
    * the flip, so the checksummed reader never pairs new bytes with an
    * old checksum. Other filesystems keep FileContext's
    * rename-with-overwrite (atomic on HDFS); an object-store deployment
    * substitutes a single-object PUT, atomic per key. */
  private[store] def writePointer(spark: SparkSession, ptr: Path,
                                  name: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = ptr.getFileSystem(conf)
    val tmp = new Path(ptr.getParent,
      s"${ptr.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    def writeTo(target: FileSystem): Unit = {
      val out = target.create(tmp, true)
      try out.write(name.getBytes("UTF-8")) finally out.close()
    }
    fs match {
      case local: LocalFileSystem =>
        val raw = local.getRawFileSystem.asInstanceOf[RawLocalFileSystem]
        writeTo(raw)
        raw.delete(local.getChecksumFile(ptr), false)
        Files.move(raw.pathToFile(tmp).toPath, raw.pathToFile(ptr).toPath,
          StandardCopyOption.ATOMIC_MOVE)
      case _ =>
        writeTo(fs)
        FileContext.getFileContext(ptr.toUri, conf)
          .rename(tmp, ptr, Options.Rename.OVERWRITE)
    }
  }

  /** The live generation dir named by the pointer, if published and
    * still on disk (meta dir present). */
  def currentGen(fs: FileSystem, root: String): Option[Path] =
    readPointer(fs, pointerPath(root)).flatMap { name =>
      val gen = new Path(root, name)
      if (fs.exists(new Path(gen, "meta"))) Some(gen) else None
    }

  /** Atomically point `_CURRENT` at `genName`. */
  def publishGen(spark: SparkSession, root: String, genName: String): Unit = {
    val ptr = pointerPath(root)
    val fs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(root))
    writePointer(spark, ptr, genName)
  }

  /** Meta row of a generation, or None when the format doesn't match
    * `expectFmt`. Column-presence guards, not just the version value:
    * an index written by an OLDER build lacks the newer meta columns
    * entirely, and that must read as "stale — rebuild", never error. */
  def readMeta(spark: SparkSession, gen: Path, expectFmt: Int): Option[Meta] = {
    val meta = spark.read.parquet(new Path(gen, "meta").toString)
    val row = meta.head()
    val fmtOk = meta.columns.contains("fmt") && meta.columns.contains("fp") &&
      meta.columns.contains("snap") && meta.columns.contains("parent") &&
      row.getAs[Int]("fmt") == expectFmt
    if (!fmtOk) None
    else Some(Meta(row.getAs[Long]("n"), row.getAs[Int]("fmt"),
      row.getAs[Long]("fp"), Option(row.getAs[String]("snap")),
      Option(row.getAs[String]("parent"))))
  }

  /** Write the single meta row of a generation. */
  def writeMeta(spark: SparkSession, gen: Path, meta: Meta): Unit = {
    import spark.implicits._
    Seq((meta.n, meta.fmt, meta.fp, meta.snap.orNull, meta.parent.orNull))
      .toDF("n", "fmt", "fp", "snap", "parent")
      .repartition(1).write.parquet(new Path(gen, "meta").toString)
  }

  /** The generation chain from `gen` (a delta head or a base) back to
    * its base, head first. Bounded: a broken/cyclic parent link fails
    * loudly rather than looping. */
  def chain(spark: SparkSession, gen: Path, expectFmt: Int): Seq[Path] = {
    val buf = scala.collection.mutable.ListBuffer[Path](gen)
    var cur = gen
    var guard = 0
    while (guard < 1000) {
      readMeta(spark, cur, expectFmt).flatMap(_.parent) match {
        case Some(p) =>
          cur = new Path(cur.getParent, p); buf += cur; guard += 1
        case None => return buf.toList
      }
    }
    throw new IllegalStateException(
      s"GenLog: generation chain under ${gen.getParent} too long or cyclic")
  }

  /** Collect generations the just-published head supersedes: keep the
    * new head's full parent CHAIN (delta generations read their
    * ancestors' data) plus the previous pointer target's chain (readers
    * in flight across the flip), drop the rest — including any legacy
    * flat layout's stray dirs, which are never named by a pointer. */
  /** A dir younger than this is spared by [[pruneGens]] (r16
    * adversarial review widened this from meta-less dirs to ALL young
    * dirs on the normal-publish path):
    *
    *  - META-LESS + young: a CONCURRENT cross-JVM builder's
    *    half-written generation — invisible to the keep-set because
    *    nothing names it until its pointer flip. Meta is written LAST
    *    in every publish path, so "no meta + young" identifies
    *    in-flight work; crashed builders' debris ages out and is
    *    collected by a later publish.
    *  - META-CARRYING + young (normal publishes only): a RACING
    *    builder's generation published between this publish's pointer
    *    flip and its prune listing is in neither this keep-set nor the
    *    prev chain — deleting it left the (last-writer-wins) pointer
    *    naming a gutted dir: self-healing (currentGen reads absent →
    *    rebuild) but a FileNotFound for any in-flight reader. The
    *    price of sparing: a rapid same-root re-publish leaves its
    *    grand-predecessor on disk up to this window before a later
    *    publish collects it.
    *
    * RTBF purge paths pass `spareYoungPublished = false`: a purge's
    * whole point is that superseded generations' bytes disappear NOW,
    * regardless of age. Test seam. */
  private[graft] var pruneGraceMs: Long = 60L * 60 * 1000

  def pruneGens(spark: SparkSession, fs: FileSystem, rootPath: Path,
                genName: String, prevGen: Option[String],
                expectFmt: Int,
                spareYoungPublished: Boolean = true): Unit = {
    val keep = scala.collection.mutable.Set.empty[String]
    def keepChain(name: String): Unit = {
      val p = new Path(rootPath, name)
      if (fs.exists(new Path(p, "meta")))
        chain(spark, p, expectFmt).foreach(g => keep += g.getName)
      else keep += name
    }
    keepChain(genName)
    prevGen.foreach(keepChain)
    val now = System.currentTimeMillis()
    fs.listStatus(rootPath).filter(_.isDirectory)
      .map(_.getPath).filterNot(p => keep(p.getName))
      .filterNot { p =>
        val young =
          now - fs.getFileStatus(p).getModificationTime < pruneGraceMs
        val hasMeta = fs.exists(new Path(p, "meta"))
        // in-flight concurrent build, or a racer's fresh publish
        young && (!hasMeta || spareYoungPublished)
      }
      .foreach(p => fs.delete(p, true))
  }
}
