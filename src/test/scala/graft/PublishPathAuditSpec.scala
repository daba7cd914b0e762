package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Tables have one publish path: a fresh immutable version dir made
  * visible by one pointer replacement ([[graft.store.SnapshotStore]]),
  * whose single rename lives in `store/GenLog.scala`. A rename anywhere
  * else in main code moves live data into place in steps a reader or a
  * crash can land between, which is what the pointer protocol replaced.
  * Index artifacts likewise have one generation publish,
  * [[graft.store.GenLog.publish]], and table versions one version
  * publish, [[graft.store.SnapshotStore.publish]]; a hand-copied
  * sequence of either's steps outside `graft/store/` is how the copies
  * came to drift. */
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

  test("table versions are published only through SnapshotStore.publish") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, "audit must run from the repo root")
    val store = new File(root, "graft/store")
    assert(new File(store, "SnapshotStore.scala").isFile,
      "the snapshot store moved: update this audit")
    val storeDir = store.getCanonicalPath + File.separator
    val step = """(commitFrom|SnapshotStore\.commit|writeManifest|freshEntries)\(""".r
    val offenders = SourceTree.scalaFiles(root)
      .filterNot(_.getCanonicalPath.startsWith(storeDir))
      .filter(f => step.findFirstIn(SourceTree.readAll(f)).isDefined)
      .map(_.getPath).sorted
    assert(offenders.isEmpty,
      "publish table versions through SnapshotStore.publish, not its steps, in:\n" +
        offenders.mkString("\n"))
  }

  test("index generations are published only through GenLog.publish") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, "audit must run from the repo root")
    val store = new File(root, "graft/store")
    assert(new File(store, "GenLog.scala").isFile,
      "the generation log moved: update this audit")
    val storeDir = store.getCanonicalPath + File.separator
    val step = """\b(newGenName|publishGen|pruneGens|writeMeta)\(""".r
    val offenders = SourceTree.scalaFiles(root)
      .filterNot(_.getCanonicalPath.startsWith(storeDir))
      .filter(f => step.findFirstIn(SourceTree.readAll(f)).isDefined)
      .map(_.getPath).sorted
    assert(offenders.isEmpty,
      "publish index generations through GenLog.publish, not its steps, in:\n" +
        offenders.mkString("\n"))
  }
}
