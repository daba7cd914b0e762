package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import graft.store.GenLog

/** GenLog's publish on the fake `s3a://` scheme: every FileSystem /
  * FileContext resolution must derive from the ROOT's URI (the pointer
  * flip goes through FileContext.rename(OVERWRITE), resolving
  * `fs.AbstractFileSystem.s3a.impl`) — the same scheme-plumbing pin
  * SnapshotStoreSpec holds for tables, applied to the index artifacts
  * built on GenLog (IvfIndex, LshBandIndex, CosineLshIndex, TextIndex,
  * SketchSidecar). */
class GenLogSpec extends SparkSuite {

  test("publish, meta round-trip, chain, and prune on an s3a root") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[FakeS3AFileSystem].getName)
    hc.set("fs.AbstractFileSystem.s3a.impl",
      classOf[FakeS3AAbstractFileSystem].getName)
    val local = Files.createTempDirectory("graft_fake_s3_gen").toString
    val root = s"s3a://test-bucket$local/index"
    val fs = new Path(root).getFileSystem(hc)
    val fmt = 7

    def publish(meta: GenLog.Meta): String =
      new Path(GenLog.publish(spark, root, meta)(_ => ())).getName

    // base generation
    val g1 = publish(GenLog.Meta(10L, fmt, 42L, None, None))
    assert(GenLog.currentGen(fs, root).map(_.getName).contains(g1))
    val m1 = GenLog.readMeta(spark, new Path(root, g1), fmt).get
    assert(m1 == GenLog.Meta(10L, fmt, 42L, None, None))
    assert(GenLog.head(spark, root, fmt).contains(new Path(root, g1) -> m1))
    // wrong expected format reads as stale, never errors
    assert(GenLog.readMeta(spark, new Path(root, g1), fmt + 1).isEmpty)
    assert(GenLog.head(spark, root, fmt + 1).isEmpty)
    // the pointer physically landed under the fake bucket's local dir
    assert(Files.exists(java.nio.file.Paths.get(s"$local/index/_CURRENT")))

    // delta chained to base; pointer flip is atomic overwrite
    val g2 = publish(GenLog.Meta(15L, fmt, 99L, Some("v1"), Some(g1)))
    assert(GenLog.currentGen(fs, root).map(_.getName).contains(g2))
    assert(GenLog.chain(spark, new Path(root, g2), fmt)
      .map(_.getName) == Seq(g2, g1))

    // a third (unchained) generation supersedes: its publish prunes,
    // keeping the new head and the previous head's CHAIN (g2 -> g1). A
    // meta-less YOUNG stray is SPARED — it is indistinguishable from a
    // concurrent cross-JVM builder's half-written generation (meta is
    // written last), and gutting one makes that builder publish a
    // pointer to an empty dir. Once the stray ages past the grace
    // window (a crashed builder's debris), the next publish collects it.
    val stray = "gen-stray000"
    val strayPath = new Path(new Path(root, stray), "data")
    fs.mkdirs(strayPath)
    val g3 = publish(GenLog.Meta(20L, fmt, 7L, None, None))
    assert(fs.exists(new Path(root, g3)))
    assert(fs.exists(new Path(root, g2)), "previous head survives one cycle")
    assert(fs.exists(new Path(root, g1)), "previous head's chain survives")
    assert(fs.exists(new Path(root, stray)),
      "a young meta-less dir may be an in-flight concurrent build — spared")
    // age the stray past the grace window (via the backing local dir —
    // the fake s3a scheme maps 1:1 onto it) and publish again
    val backing = new java.io.File(s"$local/index/$stray")
    assert(backing.setLastModified(
      System.currentTimeMillis() - GenLog.pruneGraceMs - 60000))
    val g4 = publish(GenLog.Meta(5L, fmt, 1L, None, None))
    assert(!fs.exists(new Path(root, stray)),
      "aged meta-less debris (a crashed builder's) is collected")

    // g2 is now a PUBLISHED (meta-carrying) young dir outside the
    // keep-set (g4 and the previous head g3), the shape of a RACING
    // builder's fresh generation published between a publish's pointer
    // flip and its prune listing — the normal path spares it so the
    // last-writer-wins pointer can't end up naming a gutted dir; a PURGE
    // deletes it regardless, because purged bytes must disappear now
    assert(fs.exists(new Path(root, g2)),
      "a racer's young published generation must survive a normal prune")
    GenLog.purge(spark, root, fmt)
    assert(!fs.exists(new Path(root, g2)),
      "a purge prune deletes superseded generations regardless of age")
    assert(GenLog.currentGen(fs, root).map(_.getName).contains(g4))
    assert(!fs.exists(new Path(root, g3)), "a purge keeps only the head's chain")
  }
}
