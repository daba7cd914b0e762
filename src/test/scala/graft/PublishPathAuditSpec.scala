package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Tables have one publish path: a fresh immutable version dir made
  * visible by one pointer replacement ([[graft.store.SnapshotStore]]),
  * whose single rename lives in `store/GenLog.scala`. A rename anywhere
  * else in main code moves live data into place in steps a reader or a
  * crash can land between, which is what the pointer protocol replaced. */
class PublishPathAuditSpec extends AnyFunSuite {
  test("the only rename in main code is the pointer flip in store/GenLog.scala") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, "audit must run from the repo root")
    val genLog = new File(root, "graft/store/GenLog.scala")
    assert(genLog.isFile, "the pointer primitive moved: update this audit")
    val rename = """\.rename\b""".r
    // split so this file does not match itself
    val swap = "DirectorySwap" + "Commit"
    val offenders = SourceTree.scalaFiles(root).flatMap { f =>
      val src = SourceTree.readAll(f)
      val renames = f.getCanonicalPath != genLog.getCanonicalPath &&
        rename.findFirstIn(src).isDefined
      if (renames || src.contains(swap)) Some(f.getPath) else None
    }.sorted
    assert(offenders.isEmpty,
      s"publish tables through graft.store (no rename, no $swap) in:\n" +
        offenders.mkString("\n"))
  }
}
