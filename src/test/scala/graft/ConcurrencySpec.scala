package graft

import java.nio.file.Files
import java.util.concurrent.CyclicBarrier
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.functions._
import graft.store.{ConcurrentCommitException, PointerCommit, SnapshotStore}
import graft.scd.Scd2

/** Optimistic concurrency on the snapshot commit protocol — the one
  * guarantee the reference inherits from Delta's transaction log
  * (silver_etl_script.py:922-951: merges are transactional under racing
  * writers) that plain parquet has to rebuild. Contract under race:
  * exactly one writer wins, the loser raises
  * [[ConcurrentCommitException]] WITHOUT corrupting the table or moving
  * the pointer, and the loser's retry (recompute from the new current)
  * lands on top of the winner. The likeliest real-world hit is a
  * scheduler retry overlapping a slow run of the same job. */
class ConcurrencySpec extends SparkSuite {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_occ").toString + "/table"

  test("two publishes racing from the same base: one wins, one conflicts, retry lands on top") {
    import spark.implicits._
    val root = freshRoot()
    PointerCommit.publish(Seq((1, "base")).toDF("id", "v"), root, Nil)
    val base = SnapshotStore.currentName(spark, root)
    assert(base.contains("v000000001"))

    // both writers captured base BEFORE either committed — deterministic
    // conflict: both want slot v2, the claim CAS admits exactly one
    def attempt(tag: String): Try[String] = Try {
      SnapshotStore.commitFrom(spark, root, base) { dir =>
        SnapshotStore.writeVersion(Seq((1, tag)).toDF("id", "v"), dir, Nil)._1
      }
    }
    val (a, b) = (Future(attempt("A")), Future(attempt("B")))
    val results = Seq(Await.result(a, 2.minutes), Await.result(b, 2.minutes))
    val winners = results.collect { case Success(n) => n }
    val losers = results.collect { case Failure(e) => e }
    assert(winners.size === 1, s"exactly one writer must win, got $results")
    assert(losers.size === 1)
    assert(losers.head.isInstanceOf[ConcurrentCommitException])
    assert(winners.head === "v000000002")

    // table is intact: pointer at the winner, data readable and whole
    assert(SnapshotStore.currentName(spark, root).contains("v000000002"))
    val live = PointerCommit.read(spark, root).collect()
    assert(live.length === 1 && Set("A", "B").contains(live(0).getString(1)))

    // the loser retries against the NEW current and lands on top
    val retryBase = SnapshotStore.currentName(spark, root)
    val v3 = SnapshotStore.commitFrom(spark, root, retryBase) { dir =>
      SnapshotStore.writeVersion(Seq((1, "retry")).toDF("id", "v"), dir, Nil)._1
    }
    assert(v3 === "v000000003")
    assert(PointerCommit.read(spark, root).collect()(0).getString(1) === "retry")
  }

  test("publishFrom on a stale base fails fast, before writing anything") {
    import spark.implicits._
    val root = freshRoot()
    PointerCommit.publish(Seq((1, "v1")).toDF("id", "v"), root, Nil)
    val stale = SnapshotStore.currentName(spark, root)
    PointerCommit.publish(Seq((1, "v2")).toDF("id", "v"), root, Nil)
    var wrote = false
    val e = intercept[ConcurrentCommitException] {
      SnapshotStore.commitFrom(spark, root, stale) { dir =>
        wrote = true
        SnapshotStore.writeVersion(Seq((1, "lost")).toDF("id", "v"), dir, Nil)._1
      }
    }
    assert(e.getMessage.contains("advanced"))
    assert(!wrote, "fence #1 must fire before the data write")
    assert(PointerCommit.read(spark, root).collect()(0).getString(1) === "v2")
  }

  test("a fresh foreign claim blocks the slot; a stale unpublished one is broken") {
    import spark.implicits._
    val root = freshRoot()
    PointerCommit.publish(Seq((1, "v1")).toDF("id", "v"), root, Nil)
    val base = SnapshotStore.currentName(spark, root)
    val claim = SnapshotStore.claimPath(root, "v000000002")
    val fs = claim.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // fresh claim from a live competing writer → conflict
    val out = fs.create(claim, false)
    out.write(s"other-writer\t${System.currentTimeMillis()}".getBytes("UTF-8"))
    out.close()
    intercept[ConcurrentCommitException] {
      SnapshotStore.commitFrom(spark, root, base) { dir =>
        SnapshotStore.writeVersion(Seq((1, "x")).toDF("id", "v"), dir, Nil)._1
      }
    }
    assert(SnapshotStore.currentName(spark, root) === base, "pointer untouched")

    // the same claim aged past the TTL and never published → presumed
    // crashed, broken exactly once, commit goes through
    fs.delete(claim, false)
    val out2 = fs.create(claim, false)
    out2.write(s"other-writer\t${System.currentTimeMillis() - 60000}".getBytes("UTF-8"))
    out2.close()
    val name = SnapshotStore.commitFrom(spark, root, base, claimTtlMs = 1000L) { dir =>
      SnapshotStore.writeVersion(Seq((1, "broke-through")).toDF("id", "v"), dir, Nil)._1
    }
    assert(name === "v000000002")
    assert(PointerCommit.read(spark, root).collect()(0).getString(1) === "broke-through")
  }

  test("fence #2: a writer whose claim was broken mid-write aborts without touching pointer or dir") {
    import spark.implicits._
    val root = freshRoot()
    PointerCommit.publish(Seq((1, "v1")).toDF("id", "v"), root, Nil)
    val base = SnapshotStore.currentName(spark, root)
    val claim = SnapshotStore.claimPath(root, "v000000002")
    val fs = claim.getFileSystem(spark.sparkContext.hadoopConfiguration)

    intercept[ConcurrentCommitException] {
      SnapshotStore.commitFrom(spark, root, base) { dir =>
        val m = SnapshotStore.writeVersion(Seq((1, "slow-writer")).toDF("id", "v"), dir, Nil)._1
        // a TTL-breaker takes the slot while we stall: claim rewritten
        // with ITS token (and, in real life, the dir with its data)
        fs.delete(claim, false)
        val o = fs.create(claim, false)
        o.write(s"breaker\t${System.currentTimeMillis()}".getBytes("UTF-8"))
        o.close()
        m
      }
    }
    // the slow writer must not have flipped the pointer, and must not
    // have deleted the version dir either — the breaker owns it now
    assert(SnapshotStore.currentName(spark, root) === base)
    val dir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, SnapshotStore.SnapshotsDir), "v000000002")
    assert(fs.exists(dir), "broken writer must not delete the breaker's dir")
  }

  test("a crash inside write() releases the slot: the retry lands immediately") {
    import spark.implicits._
    val root = freshRoot()
    PointerCommit.publish(Seq((1, "v1")).toDF("id", "v"), root, Nil)
    val base = SnapshotStore.currentName(spark, root)
    intercept[RuntimeException] {
      SnapshotStore.commitFrom(spark, root, base) { dir =>
        Seq((1, "dead")).toDF("id", "v").write.parquet(dir)
        throw new RuntimeException("simulated writer death mid-commit")
      }
    }
    // no TTL wait: the claim was released on the way out
    val name = SnapshotStore.commitFrom(spark, root, base) { dir =>
      SnapshotStore.writeVersion(Seq((1, "retry")).toDF("id", "v"), dir, Nil)._1
    }
    assert(name === "v000000002")
    assert(PointerCommit.read(spark, root).collect()(0).getString(1) === "retry")
  }

  test("a failed pointer write releases the slot: the retry commits immediately") {
    import spark.implicits._
    CrashFs.install(spark.sparkContext.hadoopConfiguration)
    val root = CrashFs.uri(freshRoot())
    PointerCommit.publish(Seq((1, "v1")).toDF("id", "v"), root, Nil)
    CrashFs.watch(root)
    CrashFs.armWhen(root)((op, ps) => op == "rename" &&
      ps.last.getName == SnapshotStore.PointerFile)
    val e = try {
      intercept[java.io.IOException] {
        PointerCommit.publish(Seq((1, "v2")).toDF("id", "v"), root, Nil)
      }
    } finally CrashFs.unwatch(root)
    assert(e.getMessage.contains("injected"))
    assert(SnapshotStore.currentName(spark, root).contains("v000000001"))
    // no TTL wait and no ConcurrentCommitException: the unpublished
    // claim went with the failed write
    PointerCommit.publish(Seq((1, "retry")).toDF("id", "v"), root, Nil)
    assert(SnapshotStore.currentName(spark, root).contains("v000000002"))
    assert(PointerCommit.read(spark, root).collect()(0).getString(1) === "retry")
  }

  test("the pointer flip on the local filesystem never leaves the pointer missing") {
    val root = freshRoot()
    SnapshotStore.publishPointer(spark, root, "v000000000")
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    var polls = 0L
    var missing = 0L
    val reader = new Thread(() =>
      while (!done.get) {
        polls += 1
        try { if (SnapshotStore.currentName(spark, root).isEmpty) missing += 1 }
        catch { case _: java.io.IOException => missing += 1 }
      })
    reader.start()
    try (1 to 1000).foreach(i =>
      SnapshotStore.publishPointer(spark, root, f"v$i%09d"))
    finally { done.set(true); reader.join() }
    assert(polls > 0)
    assert(missing === 0L, s"pointer missing in $missing of $polls polls")
    assert(SnapshotStore.currentName(spark, root).contains("v000001000"))
  }

  test("racing Scd2.merge writers: no lost update, retry converges, history intact") {
    import spark.implicits._
    val root = freshRoot()
    def batch(uid: String, price: Double) = Seq(
      (uid, price, true, "2025-01-01", null: String, "2025", "1")
    ).toDF("universal_id", "price", "is_current", "valid_from", "valid_to",
      "year", "month")

    // day 0: two keys
    Scd2.merge(spark, batch("k1", 100.0).unionByName(batch("k2", 200.0)),
      root, changeColumns = Seq("price"), asOfDate = lit("2025-01-01"),
      partitionColumns = Seq("year", "month"))

    // two writers race day-1 merges of DIFFERENT keys; each merge is a
    // read-modify-write of the whole table, so a lost update would drop
    // the other writer's change silently. The barrier maximizes overlap;
    // if scheduling serializes them anyway both just succeed.
    val barrier = new CyclicBarrier(2)
    def racer(uid: String, price: Double): Try[Long] = Try {
      barrier.await()
      Scd2.merge(spark, batch(uid, price), root,
        changeColumns = Seq("price"), asOfDate = lit("2025-01-02"),
        partitionColumns = Seq("year", "month"))
    }
    val (fa, fb) = (Future(racer("k1", 111.0)), Future(racer("k2", 222.0)))
    val ra = Await.result(fa, 5.minutes)
    val rb = Await.result(fb, 5.minutes)
    val failures = Seq(ra, rb).collect { case Failure(e) => e }
    failures.foreach(e => assert(e.isInstanceOf[ConcurrentCommitException],
      s"only OCC conflicts are acceptable, got $e"))

    // retry every loser against the new current — this is the documented
    // client protocol (recompute + re-commit)
    if (ra.isFailure) Scd2.merge(spark, batch("k1", 111.0), root,
      changeColumns = Seq("price"), asOfDate = lit("2025-01-02"),
      partitionColumns = Seq("year", "month"))
    if (rb.isFailure) Scd2.merge(spark, batch("k2", 222.0), root,
      changeColumns = Seq("price"), asOfDate = lit("2025-01-02"),
      partitionColumns = Seq("year", "month"))

    // NEITHER update lost, SCD2 invariant holds, history complete
    val t = PointerCommit.read(spark, root)
    assert(Scd2.violations(t) === 0)
    val cur = t.filter(col("is_current") === true)
      .select("universal_id", "price").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(cur === Map("k1" -> 111.0, "k2" -> 222.0),
      s"a racing merge lost an update: $cur")
    val closed = t.filter(col("is_current") === false).count()
    assert(closed === 2, "both day-0 versions must close out")
  }

  test("racing Scd2.mergeRegioned writers: current region consistent, no lost update") {
    import spark.implicits._
    val root = freshRoot()
    def batch(uid: String, price: Double) = Seq(
      (uid, price, true, "2025-01-01", null: String, "2025", "1")
    ).toDF("universal_id", "price", "is_current", "valid_from", "valid_to",
      "year", "month")

    Scd2.mergeRegioned(spark,
      batch("k1", 100.0).unionByName(batch("k2", 200.0)), root,
      changeColumns = Seq("price"), asOfDate = lit("2025-01-01"),
      partitionColumns = Seq("year", "month"))

    val barrier = new CyclicBarrier(2)
    def racer(uid: String, price: Double): Try[Long] = Try {
      barrier.await()
      Scd2.mergeRegioned(spark, batch(uid, price), root,
        changeColumns = Seq("price"), asOfDate = lit("2025-01-02"),
        partitionColumns = Seq("year", "month"))
    }
    val (fa, fb) = (Future(racer("k1", 111.0)), Future(racer("k2", 222.0)))
    val ra = Await.result(fa, 5.minutes)
    val rb = Await.result(fb, 5.minutes)
    Seq(ra, rb).collect { case Failure(e) => e }.foreach(e =>
      assert(e.isInstanceOf[ConcurrentCommitException],
        s"only OCC conflicts are acceptable, got $e"))

    if (ra.isFailure) Scd2.mergeRegioned(spark, batch("k1", 111.0), root,
      changeColumns = Seq("price"), asOfDate = lit("2025-01-02"),
      partitionColumns = Seq("year", "month"))
    if (rb.isFailure) Scd2.mergeRegioned(spark, batch("k2", 222.0), root,
      changeColumns = Seq("price"), asOfDate = lit("2025-01-02"),
      partitionColumns = Seq("year", "month"))

    val t = Scd2.readRegioned(spark, root, PointerCommit)
    assert(Scd2.violations(t) === 0)
    val cur = t.filter(col("is_current") === true)
      .select("universal_id", "price").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(cur === Map("k1" -> 111.0, "k2" -> 222.0),
      s"a racing regioned merge lost an update: $cur")
  }

  test("vacuum collects claim records with their version dirs, and stale orphan claims") {
    import spark.implicits._
    val root = freshRoot()
    (1 to 4).foreach(i => PointerCommit.publish((1 to i).toDF("id"), root, Nil))
    val snaps = new org.apache.hadoop.fs.Path(root, SnapshotStore.SnapshotsDir)
    val fs = snaps.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def claims() = fs.listStatus(snaps)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".claim"))
      .map(_.getPath.getName).sorted
    assert(claims().length === 4, "every committed version keeps its claim record")
    // an orphan claim from a JVM that died mid-write, long ago
    val orphan = SnapshotStore.claimPath(root, "v000000009")
    val o = fs.create(orphan, false)
    o.write("dead\t1000".getBytes("UTF-8")); o.close()
    SnapshotStore.vacuum(spark, root, keepLast = 2)
    val left = claims()
    assert(!left.contains("v000000009.claim"), "stale orphan claim collected")
    assert(left === Array("v000000003.claim", "v000000004.claim"),
      s"claims must track their retained dirs, got ${left.mkString(",")}")
  }

  // ---- the round-9 residual TTL window, driven deterministically -------
  // Both interleavings of "breaker fires inside the writer's final
  // stretch" must resolve to exactly ONE publish. The hooks fire inside
  // the windows that used to be unguarded; the publish lock now
  // serializes {final ownership check + pointer flip} against
  // {delete-then-create claim break}.

  test("breaker completing inside the writer's pre-publish window: " +
       "one publish, writer conflicts") {
    import spark.implicits._
    val root = freshRoot()
    PointerCommit.publish(Seq((1, "base")).toDF("id", "v"), root, Nil)
    val base = SnapshotStore.currentName(spark, root)
    var breakerResult: Option[String] = None
    // fires after the writer wrote its data and passed fence #2 — the
    // exact stall a TTL-breaker interprets as a dead writer
    SnapshotStore.testHookBeforePublish = Some { (r, _) =>
      SnapshotStore.testHookBeforePublish = None // one-shot: breaker must not recurse
      breakerResult = Some(
        SnapshotStore.commitFrom(spark, r, base, claimTtlMs = 0L) { dir =>
          SnapshotStore.writeVersion(Seq((1, "breaker")).toDF("id", "v"), dir, Nil)._1
        })
    }
    try {
      val e = intercept[ConcurrentCommitException] {
        SnapshotStore.commitFrom(spark, root, base) { dir =>
          SnapshotStore.writeVersion(Seq((1, "writer")).toDF("id", "v"), dir, Nil)._1
        }
      }
      assert(e.getMessage.contains("broken"),
        s"writer must conflict on the broken claim, got: ${e.getMessage}")
    } finally SnapshotStore.testHookBeforePublish = None
    assert(breakerResult.contains("v000000002"))
    // exactly one publish: the breaker's — the writer never flipped
    assert(SnapshotStore.currentName(spark, root).contains("v000000002"))
    val live = SnapshotStore.read(spark, root).collect()
    assert(live.length === 1 && live(0).getString(1) === "breaker",
      "the published snapshot must be wholly the breaker's data")
  }

  test("breaker that pre-read stale+unpublished aborts once the writer " +
       "publishes first (in-lock re-check)") {
    import spark.implicits._
    val root = freshRoot()
    PointerCommit.publish(Seq((1, "base")).toDF("id", "v"), root, Nil)
    val base = SnapshotStore.currentName(spark, root)
    // hand-crafted slow-but-alive writer: claim for v2 with an ancient
    // stamp, snapshot dir fully written, pointer not yet flipped
    val name = "v000000002"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val c = fs.create(SnapshotStore.claimPath(root, name), false)
    c.write("slow-writer\t0".getBytes("UTF-8")); c.close()
    SnapshotStore.writeManifest(fs, root, name, SnapshotStore.writeVersion(
      Seq((1, "writer")).toDF("id", "v"), s"$root/${SnapshotStore.SnapshotsDir}/$name", Nil)._1)
    // the writer's pointer flip lands BETWEEN the breaker's pre-lock
    // staleness read and its locked break — the formerly-fatal order
    SnapshotStore.testHookBeforeBreak = Some { () =>
      SnapshotStore.testHookBeforeBreak = None
      SnapshotStore.publishPointer(spark, root, name)
    }
    try {
      val e = intercept[ConcurrentCommitException] {
        SnapshotStore.commitFrom(spark, root, base, claimTtlMs = 0L) { dir =>
          SnapshotStore.writeVersion(Seq((1, "breaker")).toDF("id", "v"), dir, Nil)._1
        }
      }
      assert(e.getMessage.contains("claimed"),
        s"breaker must abort against the now-published claim: ${e.getMessage}")
    } finally SnapshotStore.testHookBeforeBreak = None
    // the writer's publish stands untouched; its claim is a commit record
    assert(SnapshotStore.currentName(spark, root).contains(name))
    val live = SnapshotStore.read(spark, root).collect()
    assert(live.length === 1 && live(0).getString(1) === "writer")
    assert(fs.exists(SnapshotStore.claimPath(root, name)),
      "a published version's claim record must never be deleted by a breaker")
  }
}
