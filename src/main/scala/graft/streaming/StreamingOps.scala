package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.StructType
import graft.silver.SilverEtl

/** Structured Streaming extensions (SURVEY.md §2.13). The reference has NO
  * streaming — its incrementality is daily batch over date-partitioned
  * bronze paths (silver_etl_script.py:122-134) sequenced by Airflow. These
  * are the declared idiomatic-Spark upgrades, not ports:
  *
  *  - streaming bronze→silver: file-source readStream + foreachBatch over
  *    the SAME batch stages (Trigger.AvailableNow = the batch pipeline,
  *    incrementally, with exactly-once file tracking via checkpoint);
  *  - watermarked tumbling/sliding window aggregations over an event
  *    stream;
  *  - sessionization via flatMapGroupsWithState (custom state the window
  *    operators can't express).
  *
  * Scale posture: state lives in the state store keyed by (window, key) or
  * user_id — partitioned by key, no driver state; watermarks bound state
  * size; AvailableNow backfills without unbounded batches.
  */
object StreamingOps {

  /** Streaming bronze→silver: reuse the batch stages inside foreachBatch.
    * `schema` must be supplied (streams cannot infer). Output lands
    * under `batch_id=<epoch>/` dirs written with OVERWRITE — foreachBatch
    * is at-least-once (an epoch that crashed between its write and the
    * checkpoint commit is replayed on restart), and a blind append would
    * duplicate the replayed rows; overwriting the epoch's own dir makes
    * the replay land on top of itself (the nearDupIndexedStream /
    * keywordAlertStream idempotence discipline). Readers discover
    * batch_id as a partition column of the silver table. */
  def silverStream(spark: SparkSession, bronzeGlob: String, schema: StructType,
                   silverPath: String, checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] = {
    val stream = spark.readStream.schema(schema).json(bronzeGlob)
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val mapped = SilverEtl.applySchemaMapping(batch)
          val (valid, _) = SilverEtl.validate(mapped)
          // as in the batch path: the _has_valid_* witness flags from
          // validate() are run-internal and must not reach the table
          val enriched = SilverEtl.enrich(
            SilverEtl.standardize(SilverEtl.cleanse(valid)))
            .drop("_has_valid_coords", "_has_valid_price")
          enriched.write.mode("overwrite")
            .partitionBy("spider_name", "ingestion_year", "ingestion_month")
            .parquet(s"$silverPath/batch_id=$batchId")
        }
      }
  }

  /** Watermarked tumbling-window aggregate over an event stream. */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes",
                     windowLen: String = "5 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  /** Sliding-window variant. */
  def slidingCounts(events: DataFrame, watermark: String = "10 minutes",
                    windowLen: String = "10 minutes",
                    slide: String = "5 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Watermarked stream-stream interval join: each left event matched to
    * right events of the same user whose timestamp falls in
    * [left.ts - lookback, left.ts]. Both sides carry watermarks AND the
    * join condition bounds event-time distance, so each side's join state
    * is evicted once the watermark passes the interval — bounded state,
    * which is what separates a runnable streaming join from an
    * accumulate-forever one. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   lookback: String = "1 hour",
                   watermark: String = "0 seconds"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r = right
      .select(col("event_id").as("r_event_id"), col("ts").as("r_ts"),
        col("user_id").as("r_user_id"), col("event_type").as("r_type"),
        col("value").as("r_value"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("ts") - expr(s"INTERVAL $lookback") &&
        col("r_ts") <= col("ts"))
  }

  /** Streaming exact dedup with bounded state: keys are remembered only
    * until the watermark passes their event time, so state size is
    * O(keys per watermark window), not O(all keys ever) — the streaming
    * twin of the batch dedup battery (dd1/dd2). Late duplicates beyond
    * the watermark are NOT caught; pick the delay from the source's
    * real out-of-orderness. */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
                           watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Native streaming session windows: the declarative twin of
    * [[sessionize]] — same per-user gap semantics, but the state is the
    * engine's session-window store instead of hand-rolled GroupState.
    * Prefer this when a count/sum summary is enough; drop to
    * flatMapGroupsWithState only for state the window can't express. */
  def sessionCounts(events: DataFrame, gap: String = "5 minutes",
                    watermark: String = "0 seconds"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))

  /** Streaming upsert into the regioned SCD2 store: every micro-batch
    * runs the same [[graft.scd.Scd2.mergeRegioned]] the daily batch path
    * uses, via foreachBatch — the standard Structured Streaming escape
    * hatch for sinks with their own transactional story.
    *
    * Exactly-once composition: foreachBatch is at-least-once (a crashed
    * epoch replays), and the merge is idempotent under replay — the
    * close-out append recognizes a replay by its merge identity (or
    * dedups against the day's closed partition after an ambiguous
    * crash), and the current region flips atomically to a new snapshot
    * ([[graft.store.PointerCommit]]), after which a replayed batch
    * matches it unchanged — so the pair is effectively exactly-once
    * without any sink-side epoch bookkeeping.
    *
    * `asOfOfBatch` maps (batch, batchId) to the merge's as-of date
    * column; the default stamps wall-clock date, tests inject fixed
    * dates per epoch. Scale posture: identical to the batch merge —
    * one shuffle per micro-batch on universal_id, O(current + churn)
    * write volume, no state store involvement at all (the TABLE is the
    * state).
    */
  def scd2Sink(batches: DataFrame, root: String, checkpoint: String,
               asOfOfBatch: (DataFrame, Long) => org.apache.spark.sql.Column =
                 (_, _) => to_date(current_timestamp()).cast("string"),
               changeColumns: Seq[String] = graft.scd.Scd2.DefaultChangeColumns,
               partitionColumns: Seq[String] = graft.scd.Scd2.DefaultPartitionColumns)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    batches.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.scd.Scd2.mergeRegioned(batch.sparkSession, batch, root,
            changeColumns = changeColumns,
            asOfDate = asOfOfBatch(batch, batchId),
            partitionColumns = partitionColumns)
          ()
        }
      }

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(count: Long, total: Double, lastTs: Long)
  final case class SessionOut(user_id: Long, n_events: Long, total_value: Double)

  /** Sessionization: emit a session summary per user once the user has
    * been idle past `idleMs` of EVENT time — the flatMapGroupsWithState
    * shape the reference lacks entirely. Event-time timeouts make this
    * deterministic: a session closes when the watermark passes
    * last-event-time + idleMs, never on wall-clock. */
  def sessionize(spark: SparkSession, events: DataFrame,
                 idleMs: Long = 5 * 60 * 1000,
                 watermarkDelay: String = "0 seconds"): DataFrame = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.count, s.total))
          } else {
            val batch = rows.toSeq
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
            val next = SessionState(prev.count + batch.size,
              prev.total + batch.map(_.value).sum,
              math.max(prev.lastTs, batch.map(_.ts.getTime).max))
            state.update(next)
            state.setTimeoutTimestamp(next.lastTs + idleMs)
            Iterator.empty
          }
      }.toDF()
  }

  final case class RunState(count: Long, total: Double)
  final case class UserRunning(user_id: Long, n_events: Long,
                               total_value: Double)

  /** Per-user running totals on the Spark 4 `transformWithState` API —
    * the successor to flatMapGroupsWithState: named, typed,
    * individually-TTL-able state handles acquired from the processor
    * handle, RocksDB-backed (the operator requires the RocksDB provider;
    * set `spark.sql.streaming.stateStore.providerClass` accordingly).
    * Emits the updated cumulative (count, total) for every user touched
    * in each micro-batch. */
  class RunningTotalsProcessor
      extends StatefulProcessor[Long, Event, UserRunning] {
    @transient private var totals: ValueState[RunState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[RunState]("totals",
        org.apache.spark.sql.Encoders.product[RunState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[UserRunning] = {
      val prev = if (totals.exists()) totals.get() else RunState(0L, 0.0)
      var count = prev.count
      var total = prev.total
      rows.foreach { e => count += 1; total += e.value }
      totals.update(RunState(count, total))
      Iterator.single(UserRunning(key, count, total))
    }
  }

  /** Streaming per-user running totals; Update-mode emission per batch. */
  def runningTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  // ---- streaming near-duplicate detection ---------------------------------

  /** Streaming incremental near-dup over the PERSISTED band index
    * ([[graft.operators.LshBandIndex]]) — the durable twin of
    * [[NearDupProcessor]]'s in-state-store variant, and the shape a
    * production crawl ingest runs: each micro-batch is (1) probed
    * against the index-so-far ([[graft.operators.MinHashLSH
    * .incrementalPairs]]: candidates touching the batch only, history
    * text never re-read), its pairs written under
    * `outDir/batch_id=<id>/`, then (2) advanced INTO the index as a
    * batch-sized delta generation. Per-batch cost is O(batch) signature
    * work + the banded equi-join — corpus-size-independent.
    *
    * Crash/redelivery is idempotent end-to-end without a transactional
    * sink: the pairs dir for a batch id is OVERWRITTEN (a re-run
    * replaces, never appends), and re-advancing the same documents trips
    * the index's id-overlap guard, which REPLACES their bands rather
    * than duplicating them. The first non-empty batch bootstraps the
    * index (its within-batch pairs still emit — probed against an empty
    * history). */
  def nearDupIndexedStream(docs: DataFrame, indexKey: String, outDir: String,
                           idCol: String = "doc_id",
                           textCol: String = "text")
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.{LshBandIndex, MinHashLSH}
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val b = batch.select(col(idCol), col(textCol)).localCheckpoint(true)
          val batchBands = MinHashLSH.bandRows(b, idCol, textCol)
          // split-layout probe: narrow bands stream the join, sigs are
          // fetched per candidate id (empty frames bootstrap batch 1)
          val (histNarrow, histSigs) =
            LshBandIndex.currentGenPath(spark, indexKey) match {
              case Some(g) => (LshBandIndex.narrowBandsOf(spark, g),
                LshBandIndex.sigsOf(spark, g))
              case None =>
                (batchBands.select("__id", "band_id", "band_hash").limit(0),
                  batchBands.select("__id", "sig").limit(0))
            }
          MinHashLSH.incrementalPairs(batchBands, histNarrow, histSigs)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
          if (LshBandIndex.currentGenPath(spark, indexKey).isDefined)
            LshBandIndex.advanceWithBatch(spark, indexKey, b, idCol, textCol)
          else
            LshBandIndex.ensure(spark, b, indexKey, idCol, textCol)
          ()
        }
      }
  }

  /** STREAMING incremental curation — the cp6 composite
    * ([[graft.corpus.IncrementalCurate]]) as an always-on ingest, the
    * daily batch collapsed to micro-batches: each batch is curated
    * against the curated store + portable band index (quality gate →
    * exact dedup via the table's content_hash column → near-dup probe
    * of the persisted index → component decisions), the accepted delta
    * is published via a FENCED commit, and the index advances with the
    * count-verified delta. Per-batch cost is O(batch) — history
    * participates only as narrow columns and band rows.
    *
    * Cold start: the first non-empty batch bootstraps store + index (it
    * IS the corpus, curated in full). Crash/redelivery idempotence: a
    * replayed micro-batch's ids are already curated, so curateBatch's
    * id guard reduces it to an empty delta — nothing republished,
    * nothing re-advanced; and a crash BETWEEN publish and advance heals
    * incrementally on the next batch via
    * [[graft.operators.LshBandIndex.advanceForSnapshot]]'s pure-insert
    * feed path (never a full rebuild for an append-only store). */
  def curateStream(docs: DataFrame, curatedRoot: String)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.corpus.IncrementalCurate
    import graft.operators.LshBandIndex
    import graft.store.SnapshotStore
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val b = batch.localCheckpoint(true)
          SnapshotStore.currentName(spark, curatedRoot) match {
            case None =>
              val curated = IncrementalCurate.curateHistory(spark, b)
                .localCheckpoint(true)
              // a first batch the quality/lang gates rejected ENTIRELY
              // must not bootstrap: publishing an empty store would
              // wedge the stream permanently — ensureForSnapshot
              // refuses to index an empty corpus, and every restart
              // re-fails in the Some(snap) arm's rebuild before any
              // later batch could add rows. Leave the store unborn;
              // the next batch with a survivor cold-starts it.
              if (!curated.isEmpty) {
                IncrementalCurate.publishDelta(spark, curatedRoot,
                  curated, None)
                LshBandIndex.ensureForSnapshot(spark, curatedRoot,
                  portable = true)
                ()
              }
            case Some(snap) =>
              // heal-or-noop: chains a pure-insert delta if a prior
              // publish outran its advance; returns the current gen
              // when index and snapshot already agree
              val gen = LshBandIndex.advanceForSnapshot(spark,
                curatedRoot, portable = true)
              val accepted = IncrementalCurate
                .curateBatch(spark, b, curatedRoot, gen)
                .localCheckpoint(true)
              if (!accepted.isEmpty) {
                // O(batch) delta publish: prior batches carried by
                // reference, never rewritten per micro-batch
                IncrementalCurate.publishDelta(spark, curatedRoot,
                  accepted, Some(snap))
                LshBandIndex.advanceForSnapshotWithBatch(spark,
                  curatedRoot, accepted, portable = true)
                // LSM valve: a manifest past MaxStoreFanout entries
                // consolidates (one fresh version; superseded dirs
                // become vacuum-collectable), bounding the per-version
                // union width of every store read — without this the
                // per-batch wall grows with TOTAL batch count even
                // while the index chain compacts (measured: BASELINE.md,
                // "Streaming-curation soak (round 12)")
                IncrementalCurate.consolidateIfWide(spark, curatedRoot)
                  .foreach(_ => SnapshotStore.vacuum(spark, curatedRoot))
                ()
              }
          }
        }
      }
  }

  /** Streaming STANDING-QUERY alerting over the persisted inverted
    * index ([[graft.operators.TextIndex]]) — "tell me when a document
    * about X arrives", the text twin of [[nearDupIndexedStream]]'s
    * probe-then-advance: each micro-batch is (1) BM25-scored against
    * the standing `terms` using the index-so-far's corpus statistics
    * ([[graft.operators.TextIndex.bm25ForBatch]]: tf/dl tokenized from
    * the batch, N/avgdl/df from chain metadata + ≤|Q| pruned posting
    * buckets — indexed text never re-read), its alerts written under
    * `outDir/batch_id=<id>/`, then (2) advanced INTO the index as a
    * batch-sized postings delta, so later batches score against
    * statistics that include this one. Per-batch cost is O(batch)
    * tokenize work — corpus-size-independent.
    *
    * Crash/redelivery idempotence, same argument as the near-dup
    * stream: the alerts dir per batch id is OVERWRITTEN, and
    * re-advancing the same documents trips the index's id-overlap
    * guard (postings REPLACED, never duplicated). The first non-empty
    * batch bootstraps the index and scores against itself — the
    * cold-start corpus IS that batch. */
  def keywordAlertStream(docs: DataFrame, indexKey: String,
                         terms: Seq[String], outDir: String,
                         idCol: String = "doc_id",
                         textCol: String = "text")
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.TextIndex
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val b = batch.select(col(idCol), col(textCol)).localCheckpoint(true)
          val pre = TextIndex.currentGenPath(spark, indexKey)
          val gen = pre.getOrElse(
            TextIndex.ensure(spark, b, indexKey, idCol, textCol))
          TextIndex.bm25ForBatch(spark, gen, b, terms, idCol, textCol)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
          // a bootstrap batch is already IN the index it just built; a
          // redelivered batch advances into the overlap guard (replaced,
          // never duplicated) — both paths land in the same state
          if (pre.isDefined)
            TextIndex.advanceWithBatch(spark, indexKey, b, idCol, textCol)
          ()
        }
      }
  }

  final case class BandedSig(band_key: Long, doc_id: Long, sig: Seq[Long])
  final case class SigEntry(doc_id: Long, sig: Seq[Long], ingest_ms: Long)
  final case class NearDupHit(doc_id: Long, matched_id: Long, est_jaccard: Double)

  /** Per-band-bucket state: the (doc_id, signature)s that have landed in
    * this LSH bucket so far. An arriving document is compared against its
    * bucket-mates only — the streaming twin of the batch band equi-join
    * (`MinHashLSH.candidatePairs`): candidates never leave their bucket,
    * so per-batch work is O(bucket occupancy), not O(corpus).
    *
    * State hygiene (the part that keeps an always-on stream runnable):
    *
    *  - **Replay idempotence** — a doc_id already present in the bucket is
    *    an at-least-once redelivery: nothing is re-emitted and nothing is
    *    re-appended, so a replayed epoch cannot grow state or duplicate
    *    hits.
    *  - **Bucket cap with FIFO eviction** — each bucket holds at most
    *    `maxBucket` entries; overflow evicts the OLDEST entries *per
    *    arrival, before the new row is compared*, so state is hard-bounded
    *    at O(buckets × maxBucket) regardless of stream length AND no row —
    *    even one arriving in the same micro-batch — is ever matched
    *    against an entry the cap has already pushed out. Near-dups of
    *    evicted (old) documents are no longer caught — the standard
    *    recency trade-off of every bounded-state sketch. A doc_id that was
    *    evicted and later REDELIVERED is treated as brand new (the
    *    replay-dedup set forgets evicted ids): it is re-compared and
    *    re-inserted, which can re-emit hits for it — at-least-once
    *    semantics degrade gracefully to the same recency window.
    *  - **Optional processing-time TTL** (`ttlMs`) — each entry carries
    *    its ingest timestamp (the micro-batch's processing time) and is
    *    evicted by AGE, per entry, before the batch's arrivals are
    *    compared: a continuously active bucket still ages its old entries
    *    out on schedule (round-9 verdict item 6 — the previous
    *    whole-bucket `put()` reset the state store's TTL clock on every
    *    update, so active buckets only ever shed entries via the FIFO
    *    cap). The state store's native TTL stays configured as the
    *    IDLE-bucket half: a bucket nothing touches again is expired (and
    *    physically removed) by the store without this processor ever
    *    reading it.
    *
    * The whole bucket is read once per (bucket, micro-batch) and written
    * back once if changed — one RocksDB get + one put, not one per row. */
  class NearDupProcessor(tau: Double, maxBucket: Int, ttlMs: Long)
      extends StatefulProcessor[Long, BandedSig, NearDupHit] {
    @transient private var seen: ListState[SigEntry] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val ttl = if (ttlMs > 0) new TTLConfig(java.time.Duration.ofMillis(ttlMs))
                else TTLConfig.NONE
      seen = getHandle.getListState[SigEntry]("seen",
        org.apache.spark.sql.Encoders.product[SigEntry], ttl)
    }

    override def handleInputRows(key: Long, rows: Iterator[BandedSig],
                                 timerValues: TimerValues): Iterator[NearDupHit] = {
      // batch processing time: every arrival in this (bucket, batch)
      // shares one clock reading — ages are deterministic per batch.
      // Only meaningful under TimeMode.ProcessingTime (ttlMs > 0); the
      // no-TTL mode stamps 0 and never reads it.
      val now =
        if (ttlMs > 0) timerValues.getCurrentProcessingTimeInMs() else 0L
      val bucket = scala.collection.mutable.ArrayBuffer.empty[SigEntry]
      var changed = false
      if (ttlMs > 0) {
        // per-entry age eviction BEFORE anything is compared: an arrival
        // must never match an entry older than the TTL, even in a bucket
        // that has been continuously active
        val cutoff = now - ttlMs
        seen.get().foreach { e =>
          if (e.ingest_ms > cutoff) bucket += e else changed = true
        }
      } else seen.get().foreach(bucket += _)
      val ids = scala.collection.mutable.HashSet.empty[Long]
      bucket.foreach(ids += _.doc_id)
      val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
      rows.foreach { r =>
        if (!ids.contains(r.doc_id)) {
          // Evict BEFORE comparing: a new arrival must never match an
          // entry the cap has already pushed out, even mid-batch. Trim
          // the oldest down to maxBucket-1 so the append below lands
          // exactly at the cap.
          if (bucket.length >= maxBucket) {
            val evict = bucket.length - (maxBucket - 1)
            var i = 0
            while (i < evict) { ids -= bucket(i).doc_id; i += 1 }
            bucket.remove(0, evict)
            changed = true
          }
          bucket.foreach { e =>
            var agree = 0
            var i = 0
            while (i < r.sig.length) {
              if (r.sig(i) == e.sig(i)) agree += 1
              i += 1
            }
            val est = agree.toDouble / r.sig.length
            if (est >= tau) out += NearDupHit(r.doc_id, e.doc_id, est)
          }
          bucket += SigEntry(r.doc_id, r.sig, now)
          ids += r.doc_id
          changed = true
        }
      }
      if (changed) seen.put(bucket.toArray)
      out.iterator
    }
  }

  /** Streaming MinHash near-dup detection: each arriving document's full
    * signature is computed IN-ROW (`graft_minhash_sig` — no per-shingle
    * shuffle, same kernel as the batch path), exploded into `bands` band
    * keys, and compared against the per-bucket history held in typed
    * RocksDB ListState. Emits one hit per (document, bucket-mate) whose
    * estimated Jaccard ≥ tau — near-duplicates are caught ACROSS
    * micro-batches, not just within one; the same pair surfacing through
    * several bands dedups downstream (`dropDuplicates` or a distinct
    * consumer). State is per band bucket and HARD-BOUNDED: at most
    * `maxBucket` signatures per bucket (FIFO eviction of the oldest),
    * optionally also aged out by `ttlMs` of processing time — see
    * [[NearDupProcessor]]. Replayed doc_ids are ignored, so an
    * at-least-once upstream cannot inflate state or duplicate hits. */
  def nearDupHits(spark: SparkSession, docs: DataFrame,
                  numPerms: Int = 16, bands: Int = 4,
                  tau: Double = 0.8, maxBucket: Int = 1024,
                  ttlMs: Long = 0L): Dataset[NearDupHit] = {
    import spark.implicits._
    require(numPerms % bands == 0, s"numPerms=$numPerms not divisible by bands=$bands")
    // the per-arrival eviction trims the bucket to maxBucket-1 before
    // appending, which is only well-formed for a cap of at least one
    require(maxBucket >= 1, s"maxBucket=$maxBucket must be >= 1")
    val rowsPerBand = numPerms / bands
    docs
      .select(col("doc_id"),
        split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ").as("toks"))
      .select(col("doc_id"), expr(s"graft_minhash_sig(toks, $numPerms)").as("sig"))
      // band key hashes the band id in with the band's signature rows, so
      // buckets never collide across bands
      .select(col("doc_id"), col("sig"),
        explode(array((0 until bands).map(b =>
          xxhash64(lit(b) +: (b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(i => col("sig").getItem(i)): _*)): _*)).as("band_key"))
      .select(col("band_key"), col("doc_id"), col("sig"))
      .as[BandedSig]
      .groupByKey(_.band_key)
      .transformWithState(new NearDupProcessor(tau, maxBucket, ttlMs),
        if (ttlMs > 0) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
  }
}
