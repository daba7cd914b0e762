package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** Structured Streaming extension tests: windowed aggregation over a
  * memory stream, streaming bronze→silver with exactly-once file
  * tracking, and flatMapGroupsWithState sessionization. */
class StreamingSpec extends SparkSuite {

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2025-01-15 10:$minute%02d:00")

  test("streaming scd2Sink == batch mergeRegioned over the same epochs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingSpec.ScdRow

    def day1: Seq[ScdRow] = (1 to 100).map(k => ScdRow(
      k.toString, s"name $k", s"addr ${k % 10}", is_current = true,
      "2025-01-15", null, s"sp${k % 3}", "2025", "01"))
    def day2: Seq[ScdRow] =
      (1 to 100).filter(_ % 7 == 0).map(k => ScdRow(
        k.toString, s"name $k v2", s"addr ${k % 10}", is_current = true,
        "2025-01-16", null, s"sp${k % 3}", "2025", "01")) :+
        ScdRow("900001", "brand new", "addr x", is_current = true,
          "2025-01-16", null, "sp0", "2025", "01")
    def asOf(id: Long) = if (id == 0L) "2025-01-15" else "2025-01-16"

    val base = Files.createTempDirectory("graft_scd_sink").toString
    val streamRoot = s"$base/stream_table"
    val mem = MemoryStream[ScdRow]
    val q = StreamingOps.scd2Sink(mem.toDF(), streamRoot, s"$base/ckpt",
      asOfOfBatch = (_, id) => lit(asOf(id))).start()
    try {
      mem.addData(day1: _*)
      q.processAllAvailable() // epoch 0 → first-load publish
      mem.addData(day2: _*)
      q.processAllAvailable() // epoch 1 → merge (close-outs + new versions)
    } finally q.stop()

    val batchRoot = s"$base/batch_table"
    graft.scd.Scd2.mergeRegioned(spark, day1.toDF(), batchRoot,
      asOfDate = lit(asOf(0)))
    graft.scd.Scd2.mergeRegioned(spark, day2.toDF(), batchRoot,
      asOfDate = lit(asOf(1)))

    val cols = Seq("universal_id", "project_name", "address", "is_current",
      "valid_from", "valid_to")
    def snap(root: String) =
      graft.scd.Scd2.readRegioned(spark, root)
        .select(cols.head, cols.tail: _*)
        .orderBy("universal_id", "valid_from").collect().toSeq
    val streamed = snap(streamRoot)
    val batch = snap(batchRoot)
    assert(streamed.nonEmpty)
    assert(streamed === batch)
    // the day-2 merge closed out every 7th key exactly once
    assert(streamed.count(r => r.getAs[String]("valid_to") != null) === 14)
  }

  test("tumbling window counts over a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(1), 1, "click", 1.0), Event(2, ts(2), 1, "click", 2.0),
      Event(3, ts(6), 2, "view", 3.0), Event(4, ts(7), 2, "click", 4.0))
    val q = StreamingOps.tumblingCounts(mem.toDF(), windowLen = "5 minutes")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT window.start, event_type, n, total FROM tumbling_out").collect()
      assert(rows.length === 3)
      val clickFirst = rows.find(r =>
        r.getTimestamp(0) == java.sql.Timestamp.valueOf("2025-01-15 10:00:00") &&
          r.getString(1) == "click").get
      assert(clickFirst.getLong(2) === 2)
      assert(clickFirst.getDouble(3) === 3.0)
    } finally q.stop()
  }

  test("streaming bronze→silver is exactly-once across restarts") {
    val base = Files.createTempDirectory("graft_stream_spec").toString
    graft.fixtures.BronzeFixtures.write(base)
    val glob = s"$base/bronze/*/year=*/month=*/*.jsonl"
    val schema = spark.read.json(glob).schema
    def runOnce(): Unit = {
      val q = StreamingOps.silverStream(spark, glob, schema,
        s"$base/silver_stream", s"$base/ckpt").start()
      q.awaitTermination()
    }
    runOnce()
    val n1 = spark.read.parquet(s"$base/silver_stream").count()
    assert(n1 > 0)
    runOnce() // AvailableNow again: no new files → no new rows
    val n2 = spark.read.parquet(s"$base/silver_stream").count()
    assert(n2 === n1)
    // internal witness columns must not leak into the streamed table
    assert(!spark.read.parquet(s"$base/silver_stream")
      .columns.exists(_.startsWith("_")))
  }

  test("flatMapGroupsWithState sessionization emits on event-time idle timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.sessionize(spark, mem.toDF(), idleMs = 5 * 60 * 1000)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      mem.addData(Event(1, ts(1), 42, "click", 1.5), Event(2, ts(2), 42, "view", 2.5))
      q.processAllAvailable() // watermark → 10:02 after this batch
      assert(spark.table("sessions_out").count() === 0) // still open
      mem.addData(Event(3, ts(30), 7, "click", 9.9)) // watermark → 10:30
      q.processAllAvailable()
      mem.addData(Event(4, ts(31), 7, "view", 1.0)) // next batch fires timeout
      q.processAllAvailable()
      val sessions = spark.table("sessions_out")
        .filter(col("user_id") === 42).collect()
      assert(sessions.length === 1)
      assert(sessions.head.getAs[Long]("n_events") === 2)
      assert(sessions.head.getAs[Double]("total_value") === 4.0)
    } finally q.stop()
  }

  test("transformWithState running totals accumulate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    // transformWithState requires the RocksDB provider
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Event]
    val q = StreamingOps.runningTotals(spark, mem.toDF())
      .writeStream.format("memory").queryName("running_out")
      .outputMode("update").start()
    try {
      mem.addData(Event(1, ts(1), 42, "click", 1.5), Event(2, ts(2), 42, "view", 2.5))
      q.processAllAvailable()
      mem.addData(Event(3, ts(3), 42, "click", 6.0), Event(4, ts(3), 7, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("running_out")
        .groupBy("user_id")
        .agg(max("n_events").as("n"), max("total_value").as("t"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      // user 42: batch 1 emitted (2, 4.0), batch 2 emitted (3, 10.0) —
      // state carried across batches, not recomputed per batch
      assert(rows(42L) === ((3L, 10.0)))
      assert(rows(7L) === ((1L, 1.0)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("stream-static broadcast join enriches the stream against a fixed dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static user→segment dim joins into every micro-batch; Catalyst
    // broadcasts the static side, so no stream-side state is kept
    val dim = Seq((42L, "gold"), (7L, "basic")).toDF("user_id", "segment")
    val mem = MemoryStream[Event]
    val q = mem.toDF()
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")
      .writeStream.format("memory").queryName("enriched_out")
      .outputMode("append").start()
    try {
      mem.addData(Event(1, ts(1), 42, "click", 1.0), Event(2, ts(2), 99, "view", 2.0))
      q.processAllAvailable()
      val rows = spark.table("enriched_out")
        .select("user_id", "segment").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows(42L) === Some("gold"))
      assert(rows(99L) === None) // left join: unknown users pass through
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes repeats, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.dedupWithinWatermark(mem.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        Event(1, ts(1), 1, "click", 1.0), Event(1, ts(1), 1, "click", 1.0),
        Event(2, ts(2), 1, "view", 2.0))
      q.processAllAvailable()
      mem.addData(Event(1, ts(3), 1, "click", 1.0)) // dup within watermark
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("native streaming session windows close once the watermark passes the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.sessionCounts(mem.toDF(), gap = "5 minutes")
      .writeStream.format("memory").queryName("swin_out")
      .outputMode("append").start()
    try {
      mem.addData(Event(1, ts(1), 42, "click", 1.5), Event(2, ts(2), 42, "view", 2.5))
      q.processAllAvailable()
      // advance the watermark far past 10:02 + 5min → user 42's session closes
      mem.addData(Event(3, ts(30), 7, "click", 9.9))
      q.processAllAvailable()
      mem.addData(Event(4, ts(45), 7, "view", 1.0))
      q.processAllAvailable()
      val s42 = spark.table("swin_out").filter(col("user_id") === 42).collect()
      assert(s42.length === 1)
      assert(s42.head.getAs[Long]("n_events") === 2)
      assert(s42.head.getAs[Double]("total_value") === 4.0)
    } finally q.stop()
  }
  test("stream-stream interval join matches within lookback, bounded by watermarks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val q = StreamingOps.intervalJoin(clicks.toDF(), views.toDF(), lookback = "10 minutes")
      .select("event_id", "r_event_id")
      .writeStream.format("memory").queryName("sj_out")
      .outputMode("append").start()
    try {
      views.addData(
        Event(101, ts(5), 1, "view", 1.0),   // 6 min before click 1 → match
        Event(102, ts(40), 1, "view", 1.0),  // 29 min after click 1 → no
        Event(103, ts(8), 2, "view", 1.0))   // other user → no match for 1
      clicks.addData(Event(1, ts(11), 1, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("sj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.toSeq === Seq((1L, 101L)))
    } finally q.stop()
  }

  test("streaming near-dup detection catches near-duplicates ACROSS micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog and then runs far " +
      "away into the deep green forest to find some food for its hungry cubs"
    val q = StreamingOps.nearDupHits(spark,
        mem.toDF().toDF("doc_id", "text"), tau = 0.5)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      // batch 1: the original, plus an unrelated document
      mem.addData((1L, base),
        (2L, "completely different content about spark catalyst optimizer " +
          "rules strategies physical plans and whole stage code generation"))
      q.processAllAvailable()
      assert(spark.table("neardup_out").count() === 0,
        "no near-dups exist in batch 1")
      // batch 2: a light edit of doc 1 (one word changed) — must match doc 1
      // via state written by batch 1 — plus another unrelated doc
      mem.addData((3L, base.replace("lazy", "sleepy")),
        (4L, "unrelated text regarding medallion architecture bronze silver " +
          "gold tables quality checks and scd type two history tracking"))
      q.processAllAvailable()
      val hits = spark.table("neardup_out")
        .select("doc_id", "matched_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits === Set((3L, 1L)),
        s"expected exactly the planted cross-batch near-dup, got $hits")
      // batch 3: an EXACT copy of doc 1 — agreement 1.0, still only vs 1/3
      mem.addData((5L, base))
      q.processAllAvailable()
      val all = spark.table("neardup_out")
        .select("doc_id", "matched_id", "est_jaccard").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val exact = all.filter(_._1 == 5L)
      assert(exact.map(t => (t._1, t._2)).toSet === Set((5L, 1L), (5L, 3L)),
        s"exact copy must match both originals, got ${exact.toSeq}")
      assert(exact.find(_._2 == 1L).get._3 === 1.0,
        "identical text must estimate Jaccard 1.0")
      assert(!all.exists(t => t._2 == 2L || t._2 == 4L),
        "unrelated documents must never appear as matches")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("near-dup state is hard-bounded: replay adds nothing, cap evicts oldest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = Files.createTempDirectory("graft_neardup_state").toString
    val mem = MemoryStream[(Long, String)]
    // identical text -> identical signature -> every doc lands in the SAME
    // 4 band buckets, the densest-possible bucket traffic
    val text = "the quick brown fox jumps over the lazy dog and then runs " +
      "far away into the deep green forest to find some food for its cubs"
    def docs(ids: Range): Seq[(Long, String)] = ids.map(i => (i.toLong, text))
    val bands = 4
    val cap = 12
    val q = StreamingOps.nearDupHits(spark,
        mem.toDF().toDF("doc_id", "text"), bands = bands, tau = 0.9,
        maxBucket = cap)
      .writeStream.format("memory").queryName("neardup_cap_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      mem.addData(docs(1 to 8): _*); q.processAllAvailable()   // batch 0
      val afterB0 = spark.table("neardup_cap_out").count()
      mem.addData(docs(1 to 8): _*); q.processAllAvailable()   // batch 1: replay
      assert(spark.table("neardup_cap_out").count() === afterB0,
        "an at-least-once replay must not emit duplicate hits")
      mem.addData(docs(9 to 16): _*); q.processAllAvailable()  // batch 2: 16/bucket -> cap
      mem.addData(docs(17 to 24): _*); q.processAllAvailable() // batch 3: still capped
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
    // state plateau, read back through the state-store data source
    def stateRows(batchId: Int): Long =
      spark.read.format("statestore")
        .option("stateVarName", "seen")
        .option("batchId", batchId)
        .load(ckpt).count()
    assert(stateRows(0) === bands * 8L, "batch 0: 8 signatures per bucket")
    assert(stateRows(1) === stateRows(0),
      "replayed doc_ids must not grow state")
    assert(stateRows(2) === bands * cap.toLong,
      "bucket cap must bound state at maxBucket per bucket")
    assert(stateRows(3) === stateRows(2),
      "state must PLATEAU at the cap under continued traffic")
    // FIFO eviction: by batch 3 each bucket holds ids 13..24, so the last
    // arrival must match recent bucket-mates only — never the evicted 1..12
    val last = spark.table("neardup_cap_out")
      .filter(col("doc_id") === 24L).select("matched_id")
      .collect().map(_.getLong(0)).toSet
    assert(last.nonEmpty && last.forall(_ >= 13L),
      s"doc 24 must only match survivors (ids >= 13), got $last")
  }

  test("near-dup: an evicted doc_id redelivered later is treated as NEW " +
       "(re-compared against survivors, re-inserted)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = Files.createTempDirectory("graft_neardup_replay").toString
    val mem = MemoryStream[(Long, String)]
    val text = "the quick brown fox jumps over the lazy dog and then runs " +
      "far away into the deep green forest to find some food for its cubs"
    def docs(ids: Range): Seq[(Long, String)] = ids.map(i => (i.toLong, text))
    val cap = 4
    val q = StreamingOps.nearDupHits(spark,
        mem.toDF().toDF("doc_id", "text"), bands = 4, tau = 0.9,
        maxBucket = cap)
      .writeStream.format("memory").queryName("neardup_replay_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      mem.addData(docs(1 to 4): _*); q.processAllAvailable()  // fills to cap
      mem.addData(docs(5 to 8): _*); q.processAllAvailable()  // evicts 1..4
      // doc 1 was evicted by the cap; its redelivery must be handled as a
      // brand-new arrival: compared against the current survivors and
      // re-inserted (at-least-once degrades to the recency window).
      mem.addData((1L, text)); q.processAllAvailable()
      val hitsFor1 = spark.table("neardup_replay_out")
        .filter(col("doc_id") === 1L).select("matched_id")
        .collect().map(_.getLong(0)).toSet
      // batch 0 emitted nothing for doc 1 (it arrived first into an empty
      // bucket), so everything here comes from the redelivery
      assert(hitsFor1.nonEmpty && hitsFor1.forall(_ >= 5L),
        s"redelivered evictee must match only current survivors, got $hitsFor1")
      // and it is back in state: a subsequent near-dup finds it
      mem.addData((99L, text)); q.processAllAvailable()
      val hitsFor99 = spark.table("neardup_replay_out")
        .filter(col("doc_id") === 99L).select("matched_id")
        .collect().map(_.getLong(0)).toSet
      assert(hitsFor99.contains(1L),
        s"re-inserted evictee must be matchable again, got $hitsFor99")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("near-dup: processing-time TTL ages out idle-bucket entries, so a " +
       "late near-dup is (correctly) missed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // ProcessingTime mode + no-data micro-batches = the query re-triggers
    // empty batches continuously to advance timers, so processAllAvailable
    // never sees quiescence (observed: first call blocked 20+ min burning
    // a core on per-batch checkpoint chmod forks). State TTL does not
    // need them: TTLConfig expiry is enforced at state READ time, so an
    // idle bucket read after the deadline is empty either way.
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNoData = spark.conf.getOption(noDataKey)
    spark.conf.set(noDataKey, "false")
    val ckpt = Files.createTempDirectory("graft_neardup_ttl").toString
    val mem = MemoryStream[(Long, String)]
    val text = "the quick brown fox jumps over the lazy dog and then runs " +
      "far away into the deep green forest to find some food for its cubs"
    val q = StreamingOps.nearDupHits(spark,
        mem.toDF().toDF("doc_id", "text"), bands = 4, tau = 0.9,
        maxBucket = 1024, ttlMs = 8000L)
      .writeStream.format("memory").queryName("neardup_ttl_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      mem.addData((1L, text)); q.processAllAvailable()
      // within TTL: near-dup of doc 1 is caught
      mem.addData((2L, text)); q.processAllAvailable()
      val within = spark.table("neardup_ttl_out")
        .filter(col("doc_id") === 2L).select("matched_id")
        .collect().map(_.getLong(0)).toSet
      assert(within === Set(1L), s"within-TTL near-dup must hit, got $within")
      // let the bucket go idle past the TTL; the state store expires it.
      // The TTL is deliberately generous (8 s) relative to per-batch
      // latency: the within-TTL assertion above requires batch 2's state
      // READ to land inside the window opened by batch 1's write, and a
      // loaded runner (RocksDB init + per-file checkpoint chmod forks)
      // can take seconds per micro-batch — a tight TTL makes that
      // assertion a wall-clock race.
      Thread.sleep(9000L)
      mem.addData((3L, text)); q.processAllAvailable()
      val late = spark.table("neardup_ttl_out")
        .filter(col("doc_id") === 3L).select("matched_id")
        .collect().map(_.getLong(0)).toSet
      assert(late.isEmpty,
        s"after TTL expiry the bucket is empty — no hits expected, got $late")
      // but doc 3 re-seeded the bucket: the window restarts from it
      mem.addData((4L, text)); q.processAllAvailable()
      val reseed = spark.table("neardup_ttl_out")
        .filter(col("doc_id") === 4L).select("matched_id")
        .collect().map(_.getLong(0)).toSet
      assert(reseed === Set(3L),
        s"post-expiry arrivals start a fresh window, got $reseed")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      prevNoData match {
        case Some(v) => spark.conf.set(noDataKey, v)
        case None => spark.conf.unset(noDataKey)
      }
    }
  }

  test("near-dup: per-entry TTL ages old entries out of an ACTIVE bucket") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // see the idle-bucket TTL test above for why no-data micro-batches
    // must be off in ProcessingTime mode
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNoData = spark.conf.getOption(noDataKey)
    spark.conf.set(noDataKey, "false")
    val ckpt = Files.createTempDirectory("graft_neardup_activettl").toString
    val mem = MemoryStream[(Long, String)]
    val text = "the quick brown fox jumps over the lazy dog and then runs " +
      "far away into the deep green forest to find some food for its cubs"
    // TTL chosen so each inter-batch sleep sits well inside it (bucket
    // stays ACTIVE — the state store's whole-bucket TTL never fires) but
    // the FIRST entry's total age crosses it by batch 3. Margins are
    // generous against slow micro-batches, same reasoning as above.
    val q = StreamingOps.nearDupHits(spark,
        mem.toDF().toDF("doc_id", "text"), bands = 4, tau = 0.9,
        maxBucket = 1024, ttlMs = 12000L)
      .writeStream.format("memory").queryName("neardup_activettl_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      mem.addData((1L, text)); q.processAllAvailable()
      Thread.sleep(6000L)
      // batch 2 keeps the bucket active and matches doc 1 (age ~6 s < TTL)
      mem.addData((2L, text)); q.processAllAvailable()
      val h2 = spark.table("neardup_activettl_out")
        .filter(col("doc_id") === 2L).select("matched_id")
        .collect().map(_.getLong(0)).toSet
      assert(h2 === Set(1L), s"within-TTL entry must match, got $h2")
      Thread.sleep(7000L)
      // batch 3: the bucket was updated only ~7 s ago (still active, not
      // store-expired), but entry 1 is now ~13 s old — the round-9
      // since-last-update approximation would still surface it; per-entry
      // aging must not
      mem.addData((3L, text)); q.processAllAvailable()
      val h3 = spark.table("neardup_activettl_out")
        .filter(col("doc_id") === 3L).select("matched_id")
        .collect().map(_.getLong(0)).toSet
      assert(h3 === Set(2L),
        s"aged entry 1 must be evicted from the ACTIVE bucket, got $h3")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      prevNoData match {
        case Some(v) => spark.conf.set(noDataKey, v)
        case None => spark.conf.unset(noDataKey)
      }
    }
  }

  test("streaming incremental curation: bootstrap, per-batch " +
    "curate/publish/advance, replayed batch is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.LshBandIndex
    import graft.store.SnapshotStore
    def longText(seed: Int) =
      (0 until 120).map(j => s"w${seed}_$j").mkString(" ")
    def mut(t: String, p: Int) = {
      val a = t.split(" "); a(p) = s"m$p"; a.mkString(" ")
    }
    val tA = longText(1); val tB = longText(2); val tC = longText(3)
    def row(id: Long, t: String) = (id, t, "en", t.length.toLong, "src")
    // batch 0 (bootstrap corpus): 10 ~ 20 near-dups, 30 unique
    val b0 = Seq(row(10, tA), row(20, mut(tA, 5)), row(30, tB))
    // batch 1: 500 exact-dups history, 510 near-dups history,
    // 600 ~ 610 batch-only cluster, 700 clean
    val b1 = Seq(row(500, tB), row(510, mut(tA, 50)), row(600, tC),
      row(610, mut(tC, 7)), row(700, longText(9)))
    val mem = MemoryStream[(Long, String, String, Long, String)]
    val root = java.nio.file.Files
      .createTempDirectory("graft_curstream").toString + "/t"
    val q = StreamingOps.curateStream(
      mem.toDF().toDF("doc_id", "text", "lang", "n_chars", "source"),
      root).start()
    def canonical(): Set[Long] =
      SnapshotStore.read(spark, root)
        .filter(org.apache.spark.sql.functions.col("is_canonical"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      assert(canonical() == Set(10L, 30L),
        "bootstrap batch must curate itself in full")
      mem.addData(b1: _*); q.processAllAvailable()
      assert(canonical() == Set(10L, 30L, 600L, 700L),
        "batch decisions: exact-dup and history-linked drop, " +
          "batch cluster keeps its min, clean survives")
      val snap2 = SnapshotStore.currentName(spark, root).get
      // replay the WHOLE second batch (at-least-once redelivery): every
      // id is already curated → empty delta → nothing republished
      mem.addData(b1: _*); q.processAllAvailable()
      assert(SnapshotStore.currentName(spark, root).get == snap2,
        "a fully-redelivered batch must not publish")
      assert(canonical() == Set(10L, 30L, 600L, 700L))
      // the index covers exactly the curated table's exact-survivors
      val g = LshBandIndex.currentGenPath(spark, s"store:$root",
        portable = true).get
      val indexed = LshBandIndex.bandsOf(spark, g).select("__id")
        .distinct().collect().map(_.getLong(0)).toSet
      val stored = SnapshotStore.read(spark, root).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(indexed == stored)
      assert(stored == Set(10L, 20L, 30L, 510L, 600L, 610L, 700L),
        s"exact-survivors stored (500 exact-dropped), got $stored")
    } finally q.stop()
  }

  test("indexed streaming near-dup: probe-then-advance per batch equals " +
    "the batch incremental identity; redelivery is idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{LshBandIndex, MinHashLSH}
    val mem = MemoryStream[(Long, String)]
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_nd_idx_out").toString
    val key = s"stream_ndidx_${System.nanoTime()}"
    def doc(i: Long, extra: String) =
      (i, "the quick brown fox jumps over the lazy dog and runs into the " +
        s"deep forest $extra")
    val q = StreamingOps.nearDupIndexedStream(
        mem.toDF().toDF("doc_id", "text"), key, outDir)
      .start()
    try {
      // batch 0: two docs, one pair of near-dups within the batch
      val b0 = Seq(doc(1L, "alpha"), doc(2L, "alpha"),
        (3L, "entirely different text about catalyst optimizer rules and " +
          "physical plans and codegen stages"))
      mem.addData(b0: _*)
      q.processAllAvailable()
      val p0 = spark.read.parquet(outDir).select("src", "dst")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p0 === Set((1L, 2L)),
        s"bootstrap batch must emit its within-batch pairs, got $p0")
      assert(spark.read.parquet(
        s"${LshBandIndex.currentGenPath(spark, key).get}/meta")
        .head().getAs[Long]("n") === 3L, "index must cover batch 0")
      // batch 1: a near-dup of doc 1 (cross-batch, via the INDEX —
      // doc 1's text is not in this batch) and a fresh unrelated doc
      mem.addData(doc(10L, "alpha"),
        (11L, "unrelated content regarding bronze silver gold medallion " +
          "layers and snapshot pointer commits"))
      q.processAllAvailable()
      val p1 = spark.read.parquet(outDir).select("src", "dst")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p1 === Set((1L, 2L), (1L, 10L), (2L, 10L)),
        s"cross-batch pairs must surface via the persisted index, got $p1")
      // the batch identity: the streamed union equals full
      // candidatePairs over everything ingested (the dd13/DedupLshSpec
      // identity, held cumulatively across the stream)
      val all = (b0 ++ Seq(doc(10L, "alpha"),
        (11L, "unrelated content regarding bronze silver gold medallion " +
          "layers and snapshot pointer commits"))).toDF("doc_id", "text")
      val full = MinHashLSH.candidatePairs(all)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p1 === full, "streamed pairs must equal the batch candidates")
      // redelivery: advancing the same docs again replaces, never
      // duplicates — the index cardinality is unchanged
      LshBandIndex.advanceWithBatch(spark, key,
        Seq(doc(10L, "alpha")).toDF("doc_id", "text"))
      assert(spark.read.parquet(
        s"${LshBandIndex.currentGenPath(spark, key).get}/meta")
        .head().getAs[Long]("n") === 5L,
        "re-advancing an indexed batch must not grow the index")
    } finally q.stop()
  }
}

object StreamingSpec {
  /** SCD2 batch row for the streaming-sink equivalence test. */
  final case class ScdRow(universal_id: String, project_name: String,
                          address: String, is_current: Boolean,
                          valid_from: String, valid_to: String,
                          spider_name: String, ingestion_year: String,
                          ingestion_month: String)
}
