package graft

import java.io.IOException
import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only `crash://` scheme: [[FakeS3AFileSystem]]'s local backing
  * (`crash://w/tmp/x` is `/tmp/x`) with a fault switch. Under a watched
  * dir ([[CrashFs.watch]]) every mutating call (create, rename, delete,
  * mkdirs) outside Spark's staging dirs (`_temporary`, `.spark-staging-*`)
  * is numbered and counted per type; [[CrashFs.armAt]] or
  * [[CrashFs.armWhen]] picks the one call that throws. Calls after it
  * run normally, so the caller's own failure handling runs, as it would
  * after an I/O error. */
class CrashFileSystem extends FakeS3AFileSystem(CrashFs.Scheme) {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.step("rename", src, dst)
    super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CrashFs.step("delete", f)
    super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CrashFs.step("mkdirs", f)
    super.mkdirs(f, permission)
  }
}

/** FileContext binding for `crash://`. The overwrite-rename is one
  * counted rename that replaces the target in one step, as HDFS's is;
  * the [[DelegateToFileSystem]] default would delete the target first. */
class CrashAbstractFileSystem(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CrashFileSystem, conf,
      CrashFs.Scheme, false) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    if (!fsImpl.rename(src, dst))
      throw new IOException(s"rename $src -> $dst failed")
}

object CrashFs {
  val Scheme = "crash"

  /** Counters and fault of one watched dir. Calls are told apart by the
    * dir they touch, not by thread: Spark commits a write job on a
    * query-stage thread, not on the thread that started it. */
  private final class Zone {
    var seen = 0
    var counts = Map.empty[String, Int]
    var fails: (Int, String, Seq[Path]) => Boolean = (_, _, _) => false
  }
  private val zones = new java.util.concurrent.ConcurrentHashMap[String, Zone]()

  private def key(dir: String): String = new Path(dir).toUri.getPath

  /** Register the scheme on `conf` (both FileSystem and FileContext). */
  def install(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CrashFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl",
      classOf[CrashAbstractFileSystem].getName)
  }

  /** The `crash://` spelling of a local absolute path. */
  def uri(local: String): String = s"$Scheme://w$local"

  /** Count calls under `dir` from zero, with no fault armed. */
  def watch(dir: String): Unit = zones.put(key(dir), new Zone)

  def unwatch(dir: String): Unit = zones.remove(key(dir))

  private def zone(dir: String): Zone = zones.get(key(dir))

  /** Fail the `k`-th counted call (1-based) under `dir`. */
  def armAt(dir: String, k: Int): Unit = {
    val z = zone(dir); z.synchronized { z.fails = (n, _, _) => n == k }
  }

  /** Fail every counted call under `dir` matching `p(op, paths)`. */
  def armWhen(dir: String)(p: (String, Seq[Path]) => Boolean): Unit = {
    val z = zone(dir); z.synchronized { z.fails = (_, op, ps) => p(op, ps) }
  }

  /** Calls counted under `dir` since [[watch]], per type. */
  def calls(dir: String): Map[String, Int] = {
    val z = zone(dir); z.synchronized(z.counts)
  }
  def total(dir: String): Int = { val z = zone(dir); z.synchronized(z.seen) }

  private[graft] def step(op: String, paths: Path*): Unit = {
    val local = paths.map(_.toUri.getPath)
    val staging = local.exists(_.split('/').exists(seg =>
      seg == "_temporary" || seg.startsWith(".spark-staging-")))
    if (!staging) {
      val it = zones.entrySet().iterator()
      var z: Zone = null
      while (z == null && it.hasNext) {
        val e = it.next()
        if (local.exists(_.startsWith(e.getKey + "/"))) z = e.getValue
      }
      if (z != null) z.synchronized {
        z.seen += 1
        z.counts += op -> (z.counts.getOrElse(op, 0) + 1)
        if (z.fails(z.seen, op, paths))
          throw new IOException(
            s"injected failure at $op #${z.seen}: ${paths.mkString(" -> ")}")
      }
    }
  }
}
