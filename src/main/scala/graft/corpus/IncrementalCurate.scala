package graft.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, LshBandIndex, MinHashLSH}
import graft.store.SnapshotStore

/** INCREMENTAL corpus curation — the daily-ingest form of
  * [[CorpusPipeline.curate]]: curate ONLY today's batch against the
  * indexed history, never recomputing (or re-reading) the corpus. The
  * composite ties the managed-index machinery together:
  *
  *  1. today's batch arrives as the raw store's CHANGE FEED
  *     ([[SnapshotStore.changesBetween]] — pure inserts on the ingest
  *     contract);
  *  2. per-row quality gate (batch-sized);
  *  3. exact dedup: within-batch keep-min, then a sidecar-probe
  *     anti-join ([[graft.store.FileStats.antiJoinFresh]]) of the
  *     batch's content hashes against the curated store's per-file
  *     `content_hash` BLOOMS — history is never re-read beyond the
  *     maybe-file sliver the blooms select (dups + the fpp residue);
  *  4. near-dup: the batch's band rows probed against the persisted
  *     [[LshBandIndex]] ([[MinHashLSH.incrementalPairs]] — O(batch)
  *     signatures + an equi-join against the index; history×history
  *     pairs never form);
  *  5. the accepted delta is PUBLISHED: curated table grows by one
  *     commit, the band index advances by one O(batch) delta generation
  *     ([[LshBandIndex.advanceForSnapshotWithBatch]], count-verified).
  *
  * SEQUENTIAL ≡ FULL-RECOMPUTE identity (the dd13 identity lifted to
  * the whole pipeline, and what the cp6 oracle checks): restricted to
  * batch rows, these decisions equal [[CorpusPipeline.curate]] over
  * history ∪ batch, PROVIDED the curated table + index hold history's
  * QUALITY+EXACT survivors (not just near-dup canonicals). Why each
  * stage agrees:
  *   - quality is per-row;
  *   - exact: batch ids exceed history ids, so "min doc_id per hash over
  *     the union" = "hash unseen in gated history AND min within batch";
  *     every gated-history hash is represented in the curated table by
  *     its keep-min row, so the narrow content_hash anti-join sees
  *     exactly the gated-history hash set;
  *   - near-dup: a batch doc is canonical in the union's components iff
  *     its component holds no smaller id. Any probe edge to a history
  *     EXACT-survivor anchors the component below every batch id — so a
  *     batch-batch component dies WHOLE when any member links to
  *     history (transitive paths through history need a first edge from
  *     some member), and otherwise its minimum survives. Indexing only
  *     near-dup canonicals would BREAK this: a batch doc near-dup of a
  *     non-canonical history survivor (but not of its canonical) must
  *     still be dropped, which only an exact-survivor index can see.
  *
  * History rows' own flags are FINAL (append-only curation): a later
  * batch bridging two history clusters does not re-open yesterday's
  * canonical choices — the production semantic, and why s19's oracle is
  * "history curated alone, union each batch curated against it", not
  * one global recompute.
  */
object IncrementalCurate {

  /** Curation parameters shared by cp1/cp6 (the gate configuration). */
  val Langs: Seq[String] = Seq("en", "vi", "de", "fr")
  val MinChars = 1
  val MaxChars = 100000
  val MaxPunctRatio = 0.2
  val MinJaccard = 0.8

  /** Day-1 full curation of `hist` into the curated-table shape: the
    * QUALITY+EXACT survivors (what the index must hold — see the class
    * doc) carrying `content_hash` (the exact-dedup probe column),
    * `is_canonical` (the near-dup decision over the portable pair
    * family) and `split`. */
  def curateHistory(spark: SparkSession, hist: DataFrame): DataFrame = {
    val gated = CorpusPipeline.qualityGate(hist, Langs, MinChars,
      MaxChars, MaxPunctRatio)
    val exact = CorpusPipeline.exactDedupKeepMin(gated)
      .localCheckpoint(true)
    val pairs = MinHashLSH.portablePairs(exact)
      .filter(col("est_jaccard") >= MinJaccard).select("src", "dst")
    val comps = ConnectedComponents.run(
      exact.select(col("doc_id").as("id")), pairs)
    val canon = comps.filter(col("id") === col("component"))
      .select(col("id").as("doc_id")).withColumn("__canon", lit(true))
    exact
      .withColumn("content_hash", md5(col("text")))
      .join(canon, Seq("doc_id"), "left")
      .withColumn("is_canonical", coalesce(col("__canon"), lit(false)))
      .drop("__canon")
      .withColumn("split", graft.operators.Splits.hashSplit(col("doc_id")))
  }

  /** GRAFT_CURATE_DEBUG=1 prints per-stage wall times (the two eager
    * checkpoints bound the stages) — diagnosis for scale runs. */
  private def debugStage(tag: String, t0: Long): Long = {
    if (sys.env.contains("GRAFT_CURATE_DEBUG"))
      println(f"CURATEDBG $tag%-12s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    System.nanoTime()
  }

  /** Curate `batch` (raw ingest rows) against the curated-history store
    * at `curatedRoot` and its persisted PORTABLE band index generation
    * `indexGen`. Returns the batch's quality+exact survivors with
    * `content_hash`, `is_canonical` (near-dup decision) and `split` —
    * the delta the caller publishes. Only batch text is read; history
    * participates as the narrow `content_hash` column and the index's
    * band rows. */
  def curateBatch(spark: SparkSession, batch: DataFrame,
                  curatedRoot: String, indexGen: String): DataFrame = {
    var t0 = System.nanoTime()
    // at-least-once ingest hardening: a REDELIVERED row (its doc_id
    // already curated) is dropped up front — without this, a replayed
    // feed would publish a duplicate id and the next index advance would
    // trip its overlap guard into a full rebuild. Ids are append-only by
    // the ingest contract, so an id match IS a redelivery, never fresh
    // content. The probe is [[graft.store.FileStats.antiJoinFresh]]
    // against the doc_id sidecar blooms [[publishDelta]] maintains:
    // history data is NEVER scanned — a redelivery-free day's range gate
    // selects ZERO files (batch ids sit above every file's max), a
    // replay reads only the touched batch partitions. The flat spelling
    // this replaces anti-joined the curated table's full doc_id column —
    // an O(corpus) narrow scan every single day.
    val fresh = graft.store.FileStats.antiJoinFresh(spark, curatedRoot,
      "doc_id", batch, "doc_id")
    val gated = CorpusPipeline.qualityGate(fresh, Langs, MinChars,
      MaxChars, MaxPunctRatio)
    // exact dedup: keep-min within the batch, then drop any hash the
    // gated history already carries (its keep-min row is in the curated
    // table, so the content_hash probe sees every gated-history hash).
    // Hash domains defeat min/max — here the per-file BLOOMS decide, and
    // only the maybe-file sliver's hash column is read (O(dups + fpp),
    // not O(history)); the sliver anti-join settles false positives on
    // the raw digest, so the decision is exact.
    val keep = graft.store.FileStats.antiJoinFresh(spark, curatedRoot,
        "content_hash",
        CorpusPipeline.exactDedupKeepMin(gated)
          .withColumn("content_hash", md5(col("text"))),
        "content_hash")
      .localCheckpoint(true) // batch-sized; feeds bands, CC and publish
    t0 = debugStage("gate+exact", t0)
    // near-dup: O(batch) portable signatures probed against the chain's
    // SPLIT layout — phase 1 streams the index's 24 B narrow band rows,
    // phase 2 fetches one sig row per CANDIDATE id (the r13 verdict's
    // probe-bytes diet: the 16-long sig never rides the band join)
    val pairs = MinHashLSH.incrementalPairs(
        MinHashLSH.portableBandRows(keep),
        LshBandIndex.narrowBandsOf(spark, indexGen),
        LshBandIndex.sigsOf(spark, indexGen))
      .filter(col("est_jaccard") >= MinJaccard)
      .select("src", "dst")
      .localCheckpoint(true) // pairs are small; CC iterates over them
    t0 = debugStage("probe", t0)
    val bIds = keep.select(col("doc_id"))
    // an endpoint outside the batch is a history exact-survivor: the
    // batch endpoint of that pair can never be canonical
    val histLinked = pairs
      .join(bIds.withColumnRenamed("doc_id", "src"), Seq("src"), "left_anti")
      .select(col("dst").as("id"))
      .unionByName(pairs
        .join(bIds.withColumnRenamed("doc_id", "dst"), Seq("dst"), "left_anti")
        .select(col("src").as("id")))
      .distinct()
    val batchPairs = pairs
      .join(bIds.withColumnRenamed("doc_id", "src"), Seq("src"), "left_semi")
      .join(bIds.withColumnRenamed("doc_id", "dst"), Seq("dst"), "left_semi")
    // batch-batch components; a component dies WHOLE if any member
    // links to history (the full-recompute component would contain that
    // history id, smaller than every batch id), else its min survives
    val comps = ConnectedComponents.run(
      keep.select(col("doc_id").as("id")), batchPairs)
    val deadComps = comps.join(histLinked, Seq("id"), "left_semi")
      .select("component").distinct()
    val canonical = comps.filter(col("id") === col("component"))
      .join(deadComps, Seq("component"), "left_anti")
      .select(col("id").as("doc_id"))
    keep // already carries content_hash (the exact-dedup probe column)
      .join(canonical.withColumn("__canon", lit(true)), Seq("doc_id"), "left")
      .withColumn("is_canonical", coalesce(col("__canon"), lit(false)))
      .drop("__canon")
      .withColumn("split",
        graft.operators.Splits.hashSplit(col("doc_id")))
  }

  /** O(churn) DELTA PUBLISH of the curated store — the one step of the
    * daily-ingest path that used to be O(history): each publish writes
    * ONLY its batch's rows, as one fresh `batch_id=<version>` partition
    * dir inside the new version dir, and carries every previous batch's
    * partition forward BY REFERENCE in the version's manifest
    * ([[SnapshotStore.publish]] — the gold-table incremental
    * layout). Carried files keep their byte-identical paths and are
    * never rewritten, so daily write volume is O(accepted batch)
    * however large the corpus; the flat `readAt(prev) ∪ accepted`
    * spelling this replaces rewrote the WHOLE curated table per day —
    * a full-corpus rewrite at 100 TB. (Reference intent: the silver
    * MERGE writes touched files, not the table —
    * silver_etl_script.py:946-961.)
    *
    * Fenced on `base`, the snapshot the curation decisions read (None
    * bootstraps day 1, making the history itself batch 1). Readers are
    * unchanged: [[SnapshotStore.read]] resolves the manifest and
    * re-attaches `batch_id` from the partition dir names. */
  def publishDelta(spark: SparkSession, curatedRoot: String,
                   accepted: DataFrame, base: Option[String]): String =
    // O(churn) stats+bloom sidecar: only the fresh batch is scanned,
    // carried batches copy their immutable sidecar rows. doc_id blooms
    // let [[forget]] locate a target's batch partition (RTBF rewrites
    // bounded by affected batches) and back [[curateBatch]]'s
    // redelivery guard; content_hash blooms back its exact-dedup
    // probe — together they make the daily batch's history questions
    // sidecar-answerable, never corpus scans
    SnapshotStore.publish(
      accepted.withColumn("batch_id", lit(SnapshotStore.nextVersion(base))),
      curatedRoot, Seq("batch_id"), base, replaces = Some(_ => false),
      stats = Some(SidecarStats))._1

  /** The sidecar columns every curated-store publish maintains (stats +
    * blooms): `doc_id` (RTBF targeting + redelivery guard) and
    * `content_hash` (incremental exact dedup). All publish paths —
    * [[publishDelta]], [[consolidate]], [[forget]]'s rewrite — MUST use
    * the same list, or a rewrite would silently strip the bloom a later
    * [[curateBatch]] needs and fail loudly mid-ingest. */
  val SidecarCols: Seq[String] = Seq("doc_id", "content_hash")

  /** Per-file bloom fpp for the curated store — much tighter than
    * [[graft.store.FileStats.DefaultBloomFpp]] because the daily
    * SET-probe multiplies it: [[curateBatch]] tests K distinct batch
    * digests against F files, so EXPECTED false-positive (file, key)
    * pairs — each a file read the sliver doesn't need — is K·F·p. At
    * p=0.01 a 1k-digest batch over a 17-file store already "maybes"
    * nearly every file (1-(1-p)^K → 1); at 1e-4 the same probe expects
    * ~1 stray pair. Cost is linear-log: ~2.4 bytes/key vs 1.2 — still
    * ~10× narrower than the md5 column it replaces. Size p ≪ 1/(K·F)
    * for the target ingest shape; saturation auto-resizing stays with
    * collectStats' per-file max sizing. */
  val SidecarFpp: Double = 1e-4

  private val SidecarStats =
    graft.store.FileStats.StatCols(SidecarCols, SidecarCols, bloomFpp = SidecarFpp)

  /** LSM compaction valve for the curated store — the [[publishDelta]]
    * counterpart of [[graft.operators.LshBandIndex.MaxChain]]: past this
    * many manifest entries, [[consolidate]] collapses the store into one
    * fresh version. Why it must exist: each delta publish adds a
    * version, and a manifest read builds ONE scan relation per
    * referenced version ([[SnapshotStore.readEntries]]) — at a year of
    * daily batches that is a 365-way union plan per read, and the
    * 36-micro-batch streaming-curation soak measured exactly that
    * growth (BASELINE.md, "Streaming-curation soak (round 12)"):
    * per-batch wall kept rising ACROSS index-chain compactions because
    * the store's union width never fell. */
  val MaxStoreFanout = 16

  /** Rewrite the curated store into ONE fresh version dir (still
    * batch_id-partitioned — the column is history, the layout is new),
    * dropping readers' per-version union width back to 1. O(history)
    * write, amortized LSM-style over the `MaxStoreFanout` batches that
    * grew the manifest; superseded versions become vacuum-collectable
    * (nothing references them). Fenced on the current snapshot. */
  def consolidate(spark: SparkSession, curatedRoot: String): String =
    // one file per batch_id partition (the small-files rule: cluster by
    // the partition column before partitionBy); every partition is fresh
    SnapshotStore.publish(
      SnapshotStore.read(spark, curatedRoot).repartition(col("batch_id")),
      curatedRoot, Seq("batch_id"), SnapshotStore.currentName(spark, curatedRoot),
      stats = Some(SidecarStats))._1

  /** RIGHT-TO-BE-FORGOTTEN on the curated corpus: remove `docIds`
    * rewriting ONLY the batch partitions whose bloom sidecar says a
    * target may live there ([[graft.store.FileStats.deleteKeys]] over
    * the batch_id layout the delta publishes maintain) — write
    * amplification O(affected batches), never the corpus. Note the
    * curation consequence: a forgotten id is no longer "already
    * curated", so a later re-ingest of the same document is re-curated
    * fresh — the correct RTBF semantic. DERIVED content goes too: any
    * persisted LSH band index for this store is rebuilt against the
    * post-delete snapshot with its superseded generations pruned in the
    * SAME operation ([[graft.operators.LshBandIndex.purgeForStore]]) —
    * otherwise the forgotten documents' MinHash signatures would linger
    * on disk until some later advance noticed the delete churn, and a
    * probe against the stale chain could still match them. The index
    * rebuild is O(history) — the price of a hard purge, paid only on
    * deletes (a no-op forget purges nothing).
    * Returns (snapshot, batches rewritten, batches total). */
  def forget(spark: SparkSession, curatedRoot: String,
             docIds: Seq[Long]): (String, Int, Int) = {
    val res = graft.store.FileStats.deleteKeys(spark, curatedRoot, "doc_id",
      docIds, pcol = "batch_id",
      statCols = SidecarCols, bloomCols = SidecarCols,
      bloomFpp = SidecarFpp)
    if (res._2 > 0) LshBandIndex.purgeForStore(spark, curatedRoot)
    res
  }

  /** [[consolidate]] when the manifest references more than
    * `maxFanout` DISTINCT VERSIONS — the union width a read pays, and
    * the quantity a consolidation actually resets (partition ENTRIES
    * accumulate forever by design; triggering on their count would
    * re-consolidate every batch after the first valve, reintroducing
    * the O(history) daily rewrite). The streaming sink calls this after
    * every publish, bounding read fan-out the way MaxChain bounds the
    * index. */
  def consolidateIfWide(spark: SparkSession, curatedRoot: String,
                        maxFanout: Int = MaxStoreFanout): Option[String] = {
    val fanout = SnapshotStore.currentEntries(spark, curatedRoot)
      .map(_.values.toSet.size).getOrElse(0)
    if (fanout > maxFanout) Some(consolidate(spark, curatedRoot)) else None
  }

  /** The two-day incremental-curation world the cp6/s19 gates read,
    * built once per (JVM, sfDir) — every step idempotent-by-cache like
    * the other gate scenarios:
    *
    *  day 1: raw store commits history (doc_id < 400); history is
    *    curated in full ([[CorpusPipeline]] stages + portable LSH
    *    pairs + CC), its quality+exact survivors published to the
    *    curated store with (content_hash, is_canonical, split), and the
    *    PORTABLE band index built snapshot-keyed over them;
    *  day 2: raw store commits the full corpus; the change feed yields
    *    the batch (pure inserts); [[curateBatch]] decides it against
    *    the index; the delta publishes via a fenced read-modify-write
    *    commit and the index advances with the count-verified batch.
    *
    * Returns (curatedRoot, accepted-batch frame). */
  def scenario(spark: SparkSession, sfDir: String): (String, DataFrame) = {
    // cross-JVM world cache (r12 verdict #4): the two-day scenario is
    // seconds of publishes + index builds that Verify, Bench and the
    // spec suites each paid separately; the final store + accepted
    // frame are immutable, so they build once per (sfDir, code build)
    val world = graft.fixtures.WorldCache.dir("cp6_scenario", sfDir,
        IncrementalCurate.getClass) { base =>
      val docs = graft.Tables.documents(spark, sfDir)
      val hist = docs.filter(col("doc_id") < 400)
      val rawRoot = s"$base/raw"
      val snap1 = SnapshotStore.publish(hist, rawRoot, Nil, None)._1
      val snap2 = SnapshotStore.publish(docs, rawRoot, Nil, Some(snap1))._1
      // day-1 history curation (full, portable family end-to-end);
      // published as batch 1 of the delta layout
      val curatedHist = curateHistory(spark, hist)
      val curRoot = s"$base/curated"
      val snapC1 = publishDelta(spark, curRoot, curatedHist, None)
      val g1 = LshBandIndex.ensureForSnapshot(spark, curRoot,
        portable = true)
      // day-2: the change feed IS the batch (pure inserts by the ingest
      // contract; the raw store's ids are append-only)
      val batch = SnapshotStore.changesBetween(spark, rawRoot, snap1, snap2,
          Seq("doc_id"))
        .filter(col("change_type") === "insert")
        .select(docs.columns.map(col): _*)
      val accepted = curateBatch(spark, batch, curRoot, g1)
        .localCheckpoint(true)
      // delta publish (fenced on the snapshot this curation read;
      // O(batch) write volume — day 1 carried by reference) + O(batch)
      // index advance, count-verified against the new snapshot
      publishDelta(spark, curRoot, accepted, Some(snapC1))
      LshBandIndex.advanceForSnapshotWithBatch(spark, curRoot, accepted,
        portable = true)
      accepted.write.mode("overwrite").parquet(s"$base/accepted")
    }
    (s"$world/curated", spark.read.parquet(s"$world/accepted"))
  }
}
