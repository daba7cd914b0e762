package graft

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only `s3a://` scheme backed by the local filesystem: the bucket
  * authority is ignored and the object key maps to the local path, so
  * `s3a://bucket/tmp/x` reads and writes `/tmp/x`. Every call translates
  * the path at the boundary and re-wraps returned statuses back into the
  * fake scheme. This exercises every place the code derives a
  * FileSystem/FileContext from the TABLE's URI rather than assuming the
  * default scheme — a path bug there is exactly the class of bug that
  * only shows up on a real object store. It does NOT fake S3's weaker
  * semantics (renames here stay atomic); what it pins is scheme plumbing
  * end-to-end. */
class FakeS3AFileSystem(scheme: String) extends FileSystem {
  def this() = this("s3a")
  private val inner = new RawLocalFileSystem
  private var fsUri: URI = URI.create(s"$scheme:///")
  private var workDir: Path = new Path(s"$scheme:///")

  override def getScheme: String = scheme
  override def getUri: URI = fsUri

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    fsUri = URI.create(s"${name.getScheme}://${name.getAuthority}")
    workDir = new Path(s"$fsUri/")
    inner.initialize(URI.create("file:///"), conf)
  }

  private def toLocal(p: Path): Path =
    new Path("file", null, Path.getPathWithoutSchemeAndAuthority(
      makeQualified(p)).toString)
  private def toFake(p: Path): Path =
    new Path(fsUri.getScheme, fsUri.getAuthority, p.toUri.getPath)
  /** Re-point a status at the fake scheme. Permissions and owner are
    * left at their defaults: on the local filesystem loading them costs
    * one shell call per file, and no caller reads them. */
  private def wrap(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, toFake(st.getPath))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    inner.open(toLocal(f), bufferSize)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    inner.create(toLocal(f), permission, overwrite, bufferSize, replication,
      blockSize, progress)
  override def append(f: Path, bufferSize: Int,
                      progress: Progressable): FSDataOutputStream =
    inner.append(toLocal(f), bufferSize, progress)
  override def rename(src: Path, dst: Path): Boolean =
    inner.rename(toLocal(src), toLocal(dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    inner.delete(toLocal(f), recursive)
  override def listStatus(f: Path): Array[FileStatus] =
    inner.listStatus(toLocal(f)).map(wrap)
  override def setWorkingDirectory(dir: Path): Unit = { workDir = dir }
  override def getWorkingDirectory: Path = workDir
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    inner.mkdirs(toLocal(f), permission)
  override def getFileStatus(f: Path): FileStatus =
    wrap(inner.getFileStatus(toLocal(f)))
}

/** FileContext binding for the fake scheme — the pointer flip in
  * SnapshotStore goes through FileContext.rename(OVERWRITE), which
  * resolves `fs.AbstractFileSystem.<scheme>.impl`. */
class FakeS3AAbstractFileSystem(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new FakeS3AFileSystem, conf, "s3a", false)
