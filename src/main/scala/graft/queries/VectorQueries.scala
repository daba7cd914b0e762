package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Similarity search over the `embeddings` table (64-dim Array[Float]) —
  * the training-data-pipeline ANN extensions.
  *
  * All dot products run through the native codegen expression
  * graft.functions.CosineSimilarity in DOUBLE — no UDFs, no interpreted
  * HOF chains, no driver-side math.
  *
  * Scale posture: brute-force top-k broadcasts the (small) query set
  * against the corpus — a BroadcastNestedLoopJoin that scans the corpus
  * exactly once regardless of query count; the LSH-bucketed variant
  * (v4) hashes vectors into sign-random-projection buckets so candidate
  * generation is an equi-join (shuffle on bucket id), which is the 100 TB
  * path: corpus-sized shuffle instead of corpus × queries scan.
  */
object VectorQueries {
  type Q = (SparkSession, String) => DataFrame

  /** cosine(ea, eb) via the native codegen expression (same sequential
    * summation semantics as the zip_with/aggregate HOF composition it
    * replaced — see graft.functions.CosineSimilarity). */
  private def cosine(ea: String, eb: String) =
    expr(s"graft_cosine($ea, $eb)")

  /** v4's adaptive probe radius per corpus dir (testdata is read-only,
    * so the density class of a dir never changes within a JVM). */
  private val radiusCache =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  /** Exact brute-force cosine top-5 for the fixed query set — v2's
    * registered body, and the ground truth the v4/v5/v7 recall gates
    * judge their approximate shortlists against. */
  /** The planted CLUSTERED embedding world for v10/v11 (r13 verdict
    * #4): same row count as the sf's embeddings table, 64-dim, 8
    * well-separated deterministic Gaussians-ish clusters — center c
    * (= vec_id % 8) has coordinates 2·cos(1.7c + 0.31i), each vector
    * perturbed by 0.3·sin(0.013·id + 0.77i), which is (a) tie-free
    * (distinct per (id, i), so exact top-5 membership is unambiguous)
    * and (b) small against the ~2.0 center scale, so the true cluster
    * dominates every cosine. Written as an `embeddings.parquet` under a
    * fixture-world dir, so every path-keyed consumer (Tables.embeddings,
    * IvfIndex.ensure, exactTopK's cache) works on it unchanged. */
  private[graft] def clusteredWorld(s: SparkSession, d: String): String =
    graft.fixtures.WorldCache.dir("v10_clustered", d,
      VectorQueries.getClass) { base =>
      val n = embeddings(s, d).count()
      s.range(n).select(col("id").as("vec_id"),
        expr("""transform(sequence(0, 63), i ->
                 CAST(2.0D * cos(1.7D * CAST(id % 8 AS DOUBLE) + 0.31D * i)
                      + 0.3D * sin(0.013D * id + 0.77D * i) AS FLOAT))""")
          .as("embedding"))
        .write.parquet(s"$base/embeddings.parquet")
    }

  private[graft] def exactTopK(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("emb").as("ea"))
    val c = e.select(col("vec_id").as("nid"), col("emb").as("eb"))
    c.join(broadcast(q), col("nid") =!= col("qid"))
      .withColumn("cs", cosine("ea", "eb"))
      .groupBy("qid")
      .agg(graft.functions.BottomK.topKScored(col("cs"), col("nid"), 5).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos0", "m")))
      .select(col("qid"), (col("pos0") + 1).cast("int").as("rnk"),
        col("m.id").as("nid"), round(col("m.score"), 6).as("cos_sim"))
      .orderBy("qid", "rnk")
  }

  /** The DRIVER-ORACLED form of an ANN gate: per query, does the
    * approximate shortlist recover at least `floor` of the exact
    * brute-force top-5? The exact side is itself oracle-proven (v2's
    * SQL replays it in DuckDB), so the booleans here are judged by an
    * exact oracle — `SELECT qid, TRUE` — rather than left `no_oracle`:
    * the shortlist contents stay engine-specific (candidate generation
    * is hash/codebook-internal), but "the shortlist finds the true
    * neighbors" is an engine-independent claim and is what this pins.
    * Floors are the measured per-query minima across all three sfs
    * with no slack (v4 multi-probe: 4/5; IVF-family: 3/5 at nprobe=6 +
    * ADC refine 1024 — BASELINE.md, "IVF recall floors", round 13;
    * r12's nprobe=3 config
    * only supported 1/5. QueriesSpec holds the tighter aggregate
    * floors). */
  /** The exact side of the recall gates, one localCheckpoint per
    * (JVM, sfDir) — testdata is read-only, and the three gates (plus
    * their bench re-runs) should price their own shortlists, not pay
    * the brute-force yardstick three times over. */
  private val exactCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  private def recallGate(s: SparkSession, d: String, ann: DataFrame,
                         floor: Int): DataFrame = {
    val exact = exactCache.getOrElseUpdate(d,
      exactTopK(s, d).select("qid", "nid").localCheckpoint())
    val overlap = ann.select("qid", "nid")
      .join(exact, Seq("qid", "nid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    exact.select("qid").distinct()
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"),
        (coalesce(col("n_hit"), lit(0L)) >= floor).as("hit"))
      .orderBy("qid")
  }

  /** v4's raw shortlist: multi-probe sign-RP LSH top-5 (see the v4
    * registry comment for the plan story). */
  private[graft] def annLshTopK(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    // the count is metadata-only (parquet row-group counts) and the
    // radius is constant per corpus dir, so memoize it: plan-only
    // consumers (PlanAudit, PlanGuardSpec) and repeat invocations skip
    // the job entirely
    val radius = radiusCache.getOrElseUpdate(d,
      graft.operators.AnnLsh.radiusFor(e.count()))
    graft.operators.AnnLsh.topK(s, e, e.filter(col("vec_id") < 10), radius)
  }

  /** v5's raw shortlist: IVF probe-only top-5 over the persisted index
    * (see the v5 registry comment for the plan story). `nprobe` defaults
    * to [[graft.operators.IvfIndex.NProbe]] — the recall/scan-fraction
    * knob the r12 verdict had tuned up (floor 1/5 at nprobe=3). */
  private[graft] def annIvfTopK(s: SparkSession, d: String,
      nprobe: Int = graft.operators.IvfIndex.NProbe): DataFrame = {
    import s.implicits._
    val idx = graft.operators.IvfIndex.ensure(s, d)
    val cb = graft.operators.IvfIndex.codebook(s, idx)
    val q = embeddings(s, d)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("ea"))
    val wProbe = Window.partitionBy("qid").orderBy(col("ccs").desc, col("cell"))
    // ONE driver action materializes the probe set: |queries| × nprobe
    // rows (30 here — bounded by the query set and the k=8 codebook,
    // never by the corpus). The rows feed both the static
    // partition-pruning predicate and the broadcast join side, so the
    // plan is scan + broadcast equi-join + top-k aggregate.
    val probeRows = q.crossJoin(broadcast(cb))
      .withColumn("ccs", expr("graft_cosine(ea, cvec)"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select("qid", "ea", "cell")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2)))
    val probedCells = probeRows.map(_._3).distinct.toSeq
    val probes = probeRows.toSeq.toDF("qid", "ea", "cell")
    val corpus = graft.operators.IvfIndex.cellsPruned(s, idx, probedCells)
      .select(col("vec_id").as("nid"), col("emb").as("eb"), col("cell"))
    corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cs", cosine("ea", "eb"))
      .groupBy("qid")
      .agg(graft.functions.BottomK.topKScored(col("cs"), col("nid"), 5).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos0", "m")))
      .select(col("qid"), (col("pos0") + 1).cast("int").as("rnk"),
        col("m.id").as("nid"), round(col("m.score"), 6).as("cos_sim"))
      .orderBy("qid", "rnk")
  }

  /** v7's ADC shortlist width before exact rerank — see the phase-1
    * comment inside [[annIvfPqTopK]] for the sizing evidence. */
  private[graft] val AdcRefine = 1024

  /** v7's raw shortlist: IVF-PQ ADC candidates + exact rerank (see
    * the v7 registry comment for the plan story). */
  private[graft] def annIvfPqTopK(s: SparkSession, d: String,
      nprobe: Int = graft.operators.IvfIndex.NProbe): DataFrame = {
    import s.implicits._
    val idx = graft.operators.IvfIndex.ensure(s, d)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length && i < b.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val coarse = graft.operators.IvfIndex.codebook(s, idx).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val pq = graft.operators.IvfIndex.pqCodebook(s, idx).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val nSub = graft.operators.IvfIndex.PqSub
    val maxCid = pq.map(_._2).max
    val qs = embeddings(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val dim = qs.headOption.map(_._2.length).getOrElse(nSub)
    // same slicing rule as the index build: the LAST subspace absorbs
    // dim % PqSub, so no trailing dimensions drop out of ADC scoring
    val subLen = math.max(dim / nSub, 1)
    val probeRows = qs.flatMap { case (qid, q) =>
      val qnorm = math.max(math.sqrt(dot(q, q)), 1e-12)
      // nprobe=3 nearest coarse cells by cosine (score desc, cell asc —
      // the same tie-break as the v5 probe window)
      val cells = coarse
        .map { case (cell, cv) =>
          (cell, dot(q, cv) / (qnorm * math.max(math.sqrt(dot(cv, cv)), 1e-12)))
        }
        .sortBy { case (cell, cs) => (-cs, cell) }.take(nprobe).map(_._1)
      // dense ADC tables indexed by cid (gaps from dropped centroids
      // score 0 — no code references them)
      val tables: Seq[Seq[Double]] = (0 until nSub).map { sub =>
        val qsub = q.slice(sub * subLen,
          if (sub == nSub - 1) q.length else (sub + 1) * subLen)
        val row = Array.fill(maxCid + 1)(0.0)
        pq.iterator.filter(_._1 == sub)
          .foreach { case (_, cid, cv) => row(cid) = dot(qsub, cv) }
        row.toSeq
      }
      cells.map(cell => (qid, qnorm, cell, tables))
    }
    val probes = probeRows.toSeq.toDF("qid", "qnorm", "cell", "tables")
    val probedCells = probeRows.map(_._3).distinct.toSeq
    val corpus = graft.operators.IvfIndex.cellsPruned(s, idx, probedCells)
      .select(col("vec_id").as("nid"), col("cell"),
        col("code"), greatest(col("rnorm"), lit(1e-12)).as("rnorm"))
    // phase 1 — compressed-domain candidate generation: ADC-score every
    // vector in the probed cells from codes alone, keep the top
    // AdcRefine per query (the FAISS "refine factor": PQ error means
    // the true top-5 sits inside the ADC top-hundreds, not the ADC
    // top-5 — on this near-uniform corpus 8x16 PQ correlates weakly
    // with exact cosine, and the r13 sweep measured top-96 and top-384
    // both dropping true neighbors at sf0.1 while 1024 holds the 3/5
    // floor; rerank cost stays |queries| x AdcRefine,
    // corpus-independent)
    val cand = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("ip", expr(
        "aggregate(zip_with(code, tables, (c, t) -> t[c]), 0D, (acc, v) -> acc + v)"))
      .withColumn("adc", col("ip") / (col("qnorm") * col("rnorm")))
      .groupBy("qid")
      .agg(graft.functions.BottomK.topKScored(col("adc"), col("nid"),
        AdcRefine).as("top"))
      .select(col("qid"), explode(expr("transform(top, x -> x.id)")).as("nid"))
    // phase 2 — exact rerank of the |queries| × 96 survivors: broadcast
    // the candidate ids against the same pruned cell scan (this is the
    // only read of the raw vectors, and only over nprobe/k of the
    // index; on a cluster with a point-lookup side index even that
    // scan collapses to id fetches)
    val qdf = qs.toSeq.toDF("qid", "ea")
    val emb64 = graft.operators.IvfIndex.cellsPruned(s, idx, probedCells)
      .select(col("vec_id").as("nid"), col("emb").as("eb"))
    emb64.join(broadcast(cand.join(broadcast(qdf), Seq("qid"))), Seq("nid"))
      .withColumn("cs", expr("graft_cosine(ea, eb)"))
      .groupBy("qid")
      .agg(graft.functions.BottomK.topKScored(col("cs"), col("nid"), 5).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos0", "m")))
      .select(col("qid"), (col("pos0") + 1).cast("int").as("rnk"),
        col("m.id").as("nid"), round(col("m.score"), 6).as("cos_sim"))
      .orderBy("qid", "rnk")
  }

  val queries: Map[String, Q] = Map(
    // pairwise cosine between consecutive vec_ids (exact, oracle-checked).
    "v1_cosine_pairs" -> ((s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val a = e.select(col("vec_id").as("qid"), col("emb").as("ea"))
      val b = e.select(col("vec_id").as("nid"), col("emb").as("eb"))
      a.join(b, col("nid") === col("qid") + 1)
        .select(col("qid"), col("nid"), round(cosine("ea", "eb"), 6).as("cos_sim"))
        .orderBy("qid")
    }),

    // brute-force cosine top-5 for a fixed query set (vec_id < 10):
    // broadcast queries × corpus, then top-k per query via the k-bounded
    // TopKScored aggregate (partial map-side) instead of a rank window —
    // the window formulation shuffled EVERY scored (corpus × queries)
    // row into its qid partition and sorted it there; the aggregate
    // ships only k candidates per (qid × input partition), so shuffle
    // volume is |queries|·k·|partitions|, independent of corpus size.
    "v2_ann_topk" -> ((s, d) => exactTopK(s, d)),

    // per-label centroid (flattened): mean of each embedding position.
    "v3_centroid_by_label" -> ((s, d) =>
      embeddings(s, d)
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("pos0", "v")))
        .groupBy(col("label"), (col("pos0") + 1).as("pos"))
        .agg(round(avg(col("v")), 6).as("centroid_v"))
        .orderBy("label", "pos")),

    // Multi-probe LSH ANN (sign random projection, 8 bands × 8 planes):
    // the corpus is hashed once into one 8-bit bucket per band; the
    // QUERY side additionally probes every bucket within a Hamming
    // RADIUS of its own signature. Candidates are an equi-join on
    // (band, key) against the tiny exploded probe set, so the
    // corpus-side cost stays one scan + one fixed-width-key join no
    // matter how many probes a query makes — multi-probing buys recall
    // on the query side for free, instead of multiplying the corpus-side
    // band rows.
    //
    // The radius ADAPTS to corpus density: expected candidates per
    // (query, band, probe key) is ~n/256, so a fixed radius-2 probe set
    // (37 keys/band) that is pure recall upside on a sparse corpus
    // degenerates toward a full scan on a dense one (measured on the
    // 100×-replicated corpus, 200k vecs: 1.4M candidate pairs ≈ 70% of
    // corpus × queries — brute-force cost with LSH overhead on top).
    // Radius 2 below ~24k vectors, 1 below ~120k, else 0 keeps the
    // probed fraction of the corpus bounded as density grows; the count
    // driving the choice is a parquet metadata-only action. The shared
    // core lives in operators.AnnLsh (banded hashing, Hamming-ball probe
    // explosion, k-bounded TopKScored aggregate — no rank window).
    // The REGISTERED query is the recall GATE (see recallGate): the
    // shortlist's bucket assignment uses engine-internal pseudo-random
    // planes (not expressible in ANSI SQL), but whether it recovers the
    // exact top-5 is — so the driver judges per-query booleans against
    // an exact DuckDB oracle. The raw shortlist surface
    // ([[annLshTopK]]) stays pinned by QueriesSpec (recall@5 >= 0.95 at
    // radius 2), AnnLshStepdownSpec (planted non-copy neighbors at the
    // radius 1 and 0 density thresholds) and the 10×/100× density runs
    // in BASELINE.md, "ANN scaling + recall (round 8)" and its round-9
    // re-run.
    "v4_ann_lsh" -> ((s, d) => recallGate(s, d, annLshTopK(s, d), 4)),

    // IVF ANN, probe-only: the k-means codebook and the cell-partitioned
    // corpus are a PERSISTED index (graft.operators.IvfIndex — k=8,
    // 4 Lloyd iterations, deterministic spread seeding; trained once per
    // corpus and reused across invocations, with a metadata-only
    // row-count check to detect a regenerated corpus). The query itself
    // does what a 100 TB IVF query should do and nothing else: score the
    // tiny query set against the 8-row broadcast codebook to pick the
    // nprobe (=IvfIndex.NProbe) nearest cells, statically PRUNE the
    // index scan to those cell directories (reads nprobe/k of the
    // index), exact cosine on the candidates, and a k-bounded TopKScored
    // aggregate (map-side partial, no rank window) for the final top-5.
    // The one collect() pulls <= k=8 probed cell ids to the driver —
    // bounded by the codebook size, needed to turn the probe set into a
    // static partition-pruning predicate.
    // Recall context (BASELINE.md, "IVF recall floors", round 13): this
    // near-uniform synthetic
    // corpus barely clusters ((16,4) codebooks measured WORSE than
    // (8,4)), so recall tracks the scan fraction — nprobe=3 of 8
    // supported only a 1/5 per-query floor; nprobe=6 supports 3/5 at
    // every sf (minima 4/4/3). v4's multi-probe LSH (0.98-1.0) is the
    // high-recall path; nprobe is the standard knob when corpora do
    // cluster. Registered as the recall GATE (cell assignment is
    // engine-internal; the exact-overlap booleans are not); the raw
    // shortlist ([[annIvfTopK]]) stays recall-gated in QueriesSpec.
    "v5_ann_ivf" -> ((s, d) => recallGate(s, d, annIvfTopK(s, d), 3)),

    // IVF on a corpus that actually CLUSTERS (r13 verdict #4): the
    // testdata embeddings are near-uniform, so v5/v7's recall floors
    // cost a 6/8-cell scan — which left the IVF path with no evidence
    // it ever beats its scan fraction. This gate plants a deterministic
    // mixture-of-8-Gaussians world (centers cos-derived, ±0.3 noise —
    // tight, tie-free) keyed like any fixture world, trains the SAME
    // IvfIndex over it, and probes at nprobe=3 (the narrow width the
    // uniform corpus couldn't support): recall must reach ≥4/5 per
    // query while reading 3/8 of the index. Same TRUE-hit oracle shape
    // as v5 — the exact side is brute force over the planted world.
    // Together with v5 this documents both regimes: nprobe follows the
    // corpus's cluster structure, not the engine.
    "v10_ann_ivf_clustered" -> ((s, d) =>
      recallGate(s, clusteredWorld(s, d),
        annIvfTopK(s, clusteredWorld(s, d), nprobe = 3), 4)),

    // v7's ADC path on the clustered world: PQ quantization error must
    // not eat the structure the coarse quantizer found — ≥4/5 at
    // nprobe=3 with the same 1024-wide ADC shortlist + exact rerank.
    "v11_ann_ivfpq_clustered" -> ((s, d) =>
      recallGate(s, clusteredWorld(s, d),
        annIvfPqTopK(s, clusteredWorld(s, d), nprobe = 3), 4)),

    // IVF-PQ compressed-domain ANN: the scan that makes 100 TB ANN
    // tractable. The persisted index (graft.operators.IvfIndex, format 2)
    // stores per-vector PRODUCT-QUANTIZATION codes — 8 subspaces × 16
    // centroids = 8 small ints per vector instead of 64 doubles — and
    // the query scores candidates via ADC (asymmetric distance
    // computation): per query, an 8×16 table of dot(query_sub, centroid)
    // is precomputed DRIVER-side (bounded: |queries| × PqSub × PqCids
    // doubles) and broadcast; a candidate's approximate inner product is
    // then 8 array lookups + adds, rescaled by the stored reconstruction
    // norm to approximate cosine. The timed plan reads ONLY
    // (vec_id, code, rnorm) from the nprobe pruned cell directories —
    // never the raw vectors (ReadSchema shows the 64-double column
    // pruned away): IO shrinks by the PQ compression ratio on top of the
    // IVF cell pruning, which is exactly the FAISS IVFADC shape
    // re-expressed as parquet partition pruning + column pruning +
    // broadcast equi-join + codegen HOFs. Candidate ranking is the
    // k-bounded TopKScored aggregate; driver-side math is limited to the
    // 8-row coarse codebook and the fixed query set. Floor 3/5 at
    // nprobe=6 + ADC refine 1024 (r13 sweep; coarse 8x16 PQ needs the
    // wide refine on this corpus — top-96/top-384 both dropped true
    // neighbors at sf0.1). QueriesSpec gates aggregate overlap vs exact
    // brute force, IvfPqSpec the reconstruction-error bound.
    "v7_ann_ivfpq" -> ((s, d) => recallGate(s, d, annIvfPqTopK(s, d), 3)),

    // int8 symmetric quantization roundtrip: per-vector scale =
    // 127/max|x|, q = round(x*scale) as int8, dequantize, report the
    // reconstruction cosine and max absolute error. The storage-scale
    // op: a 100 TB float32 embedding store shrinks 4x with ~1e-3
    // cosine loss, and the quantized table (not the floats) is what a
    // cluster-scale ANN index should scan. Fully SQL-expressible, so
    // DuckDB gates the exact roundtrip; QuantizationSpec pins the error
    // bound |x - q/scale| <= 0.5/scale and ANN recall on the
    // dequantized corpus.
    "v6_int8_quant" -> ((s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      e.withColumn("scale",
          lit(127.0) / greatest(array_max(transform(col("emb"), x => abs(x))),
            lit(1e-12)))
        .withColumn("deq",
          transform(transform(col("emb"),
              x => round(x * col("scale")).cast("int")),
            q => q.cast("double") / col("scale")))
        .select(col("vec_id"),
          round(expr("graft_cosine(emb, deq)"), 6).as("cos_deq"),
          round(array_max(zip_with(col("emb"), col("deq"),
            (a, b) => abs(a - b))), 6).as("max_abs_err"))
        .orderBy("vec_id")
    }),

    // deterministic cosine k-means, FULLY oracle-replicated (seeding,
    // the fused-argmax assignment, one decimal-exact Lloyd recenter,
    // reassignment) — the clustering primitive behind SemDeDup cells /
    // IVF codebooks / cluster-balanced sampling, gated row-for-row.
    "v8_kmeans" -> ((s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      graft.operators.KMeans.fit(e, "vec_id", "emb", k = 8, rounds = 1)
        .assigned
        .select(col("vec_id"), col("cluster"),
          round(col("cent_cos"), 6).as("cent_cos"))
        .orderBy("vec_id")
    }),

    // Johnson–Lindenstrauss random projection, 64 → 16 dims: y_j =
    // (1/√16)·Σ_i x_i·s(i,j) with dense ±1 signs (Achlioptas 2001 —
    // database-friendly random projections; the cheap-ANN/clustering
    // preconditioner: pairwise distances are preserved within (1±ε)).
    // The sign matrix is a pure function of (i,j) — the md5("i_j") last
    // hex digit's parity — so the projection is reproducible across
    // engines/runs with NO shipped model state; k=16 makes the 1/√k
    // scale an exact power of two (no rounding in the scaling itself).
    // Spark inlines the 1024 signs as a nested array literal (computed
    // once at plan time from the same md5 spec the oracle derives in
    // SQL — the oracle therefore re-verifies the derivation) and folds
    // each output dim with a sequential `aggregate` HOF, matching
    // DuckDB's in-order list_sum: bit-identical before the shared
    // round(…, 6). Scale: a pure per-row projection — no shuffle, no
    // join, no state; 64·16 mult-adds per row.
    "v9_random_projection" -> ((s, d) => {
      val signs: Seq[Seq[Double]] = (0 to 15).map { j =>
        (0 to 63).map { i =>
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(s"${i}_${j}".getBytes("UTF-8"))
          if ((h(15) & 1) == 0) 1.0 else -1.0
        }
      }
      val signsCol = array(signs.map(r => array(r.map(lit): _*)): _*)
      embeddings(s, d)
        .withColumn("ys", transform(sequence(lit(0), lit(15)), j =>
          round(aggregate(sequence(lit(0), lit(63)), lit(0.0),
            (acc, i) => acc +
              element_at(col("embedding"), i + 1).cast("double") *
                element_at(element_at(signsCol, j + 1), i + 1)) * 0.25, 6)))
        .select(col("vec_id"), posexplode(col("ys")).as(Seq("j", "y")))
        .orderBy("vec_id", "j")
    }),

    // Binary sign quantization + Hamming shortlist + exact rerank — the
    // third compression rung after int8 (v6) and PQ (v7): 64 dims × 4
    // bytes collapse to 8 BYTES per vector (sign bit per dim), and the
    // shortlist scan compares two 32-bit words with XOR + popcount
    // (codegen'd bit_count — no arrays, no floats in the hot loop).
    // That 32× memory cut is what keeps a 100 TB corpus's candidate
    // scan in page cache; cosine runs only on the tiny shortlist.
    // Engine-portable end-to-end: bits pack into TWO bigints of 32 bits
    // each (never bit 63 — DuckDB BIGINT addition checks overflow where
    // two's-complement would wrap), so the oracle replays pack,
    // Hamming top-50 (ties: lower nid), and cosine top-3 verbatim.
    // Rerank depth 50 ≈ 17×k — the usual BQ regime; measured recall@3
    // vs exact cosine: 0.73 at sf0.001, 0.83 at sf0.01 (the synthetic
    // embeddings are near-isotropic, the hard case for sign sketches).
    // Plan: corpus scans once into (nid, 2×long); 10 queries broadcast;
    // the k-bounded TopKScored aggregate ships ≤ 50·|queries| rows per
    // partition (never a corpus-sized window sort); rerank joins the
    // ≤ 500 candidates back to full vectors by id.
    "v10_binary_hamming" -> ((s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      def pack(lo: Int): String =
        s"""aggregate(sequence($lo, ${lo + 31}), 0L,
           |  (acc, i) -> acc + CASE WHEN element_at(emb, i + 1) > 0D
           |    THEN shiftleft(1L, i - $lo) ELSE 0L END)""".stripMargin
      val bits = e.select(col("vec_id"),
        expr(pack(0)).as("blo"), expr(pack(32)).as("bhi"))
      val q = bits.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("blo").as("qlo"), col("bhi").as("qhi"))
      val shortlist = bits
        .select(col("vec_id").as("nid"), col("blo"), col("bhi"))
        .join(broadcast(q), col("nid") =!= col("qid"))
        .withColumn("ham",
          expr("bit_count(blo ^ qlo) + bit_count(bhi ^ qhi)").cast("int"))
        .groupBy("qid")
        .agg(graft.functions.BottomK
          .topKScored(-col("ham").cast("double"), col("nid"), 50).as("top"))
        .select(col("qid"), explode(col("top")).as("m"))
        .select(col("qid"), col("m.id").as("nid"),
          (-col("m.score")).cast("int").as("ham"))
      shortlist
        .join(e.select(col("vec_id").as("nid"), col("emb").as("eb")), "nid")
        .join(broadcast(e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("emb").as("ea"))), "qid")
        .withColumn("cs", cosine("ea", "eb"))
        .groupBy("qid")
        .agg(graft.functions.BottomK
          .topKScored(col("cs"), col("nid"), 3).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("pos0", "m")))
        .select(col("qid"), (col("pos0") + 1).cast("int").as("rnk"),
          col("m.id").as("nid"), round(col("m.score"), 6).as("cos_sim"))
        .orderBy("qid", "rnk")
    }),

    // Hard-negative mining for contrastive training — for each anchor,
    // the most similar vectors with a DIFFERENT label (the negatives
    // that actually teach a bi-encoder something; random negatives are
    // trivially separable). The v2 brute-force shape with the label
    // inequality fused into the join condition, so disqualified
    // same-label rows never reach the scorer: one corpus scan,
    // k-bounded TopKScored, no window. At index scale the same mining
    // runs against the IVF/LSH candidate stream.
    "v11_hard_negatives" -> ((s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"), col("label"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb").as("ea"),
          col("label").as("qlabel"))
      e.select(col("vec_id").as("nid"), col("emb").as("eb"),
          col("label").as("nlabel"))
        .join(broadcast(q), col("nlabel") =!= col("qlabel"))
        .withColumn("cs", cosine("ea", "eb"))
        .groupBy("qid")
        .agg(graft.functions.BottomK
          .topKScored(col("cs"), col("nid"), 3).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("pos0", "m")))
        .select(col("qid"), (col("pos0") + 1).cast("int").as("rnk"),
          col("m.id").as("neg_id"), round(col("m.score"), 6).as("cos_sim"))
        .orderBy("qid", "rnk")
    })
  )

  val oracle: Map[String, String] = Map(
    // the ANN recall gates: per query, TRUE iff the approximate
    // shortlist recovered >= floor of the exact top-5. The exact side
    // is v2's oracle-proven ranking computed IN SPARK; DuckDB pins the
    // expected verdicts over the real query-id set (the s23
    // skip_effective pattern) — a recall regression flips a boolean
    // and hash-mismatches.
    "v4_ann_lsh" ->
      """SELECT DISTINCT CAST(vec_id AS BIGINT) AS qid, TRUE AS hit
        |FROM embeddings WHERE vec_id < 10 ORDER BY qid""".stripMargin,
    "v5_ann_ivf" ->
      """SELECT DISTINCT CAST(vec_id AS BIGINT) AS qid, TRUE AS hit
        |FROM embeddings WHERE vec_id < 10 ORDER BY qid""".stripMargin,
    "v7_ann_ivfpq" ->
      """SELECT DISTINCT CAST(vec_id AS BIGINT) AS qid, TRUE AS hit
        |FROM embeddings WHERE vec_id < 10 ORDER BY qid""".stripMargin,
    // v10/v11 probe the planted clustered world, whose vec_ids 0..9
    // coincide with the embeddings table's — the recall booleans are
    // engine-computed against the world's brute-force truth, and the
    // oracle pins every one of them TRUE (the v5 pattern)
    "v10_ann_ivf_clustered" ->
      """SELECT DISTINCT CAST(vec_id AS BIGINT) AS qid, TRUE AS hit
        |FROM embeddings WHERE vec_id < 10 ORDER BY qid""".stripMargin,
    "v11_ann_ivfpq_clustered" ->
      """SELECT DISTINCT CAST(vec_id AS BIGINT) AS qid, TRUE AS hit
        |FROM embeddings WHERE vec_id < 10 ORDER BY qid""".stripMargin,
    "v9_random_projection" ->
      """SELECT vec_id, CAST(t.j AS INTEGER) AS j,
        |  ROUND(0.25 * list_sum(list_transform(generate_series(0, 63), i ->
        |    CAST(embedding[i + 1] AS DOUBLE) *
        |    CASE WHEN (strpos('0123456789abcdef',
        |        substring(md5(CAST(i AS VARCHAR) || '_' || CAST(t.j AS VARCHAR)), 32, 1))
        |        - 1) % 2 = 0
        |      THEN 1.0 ELSE -1.0 END)), 6) AS y
        |FROM embeddings, generate_series(0, 15) t(j)
        |ORDER BY vec_id, j""".stripMargin,
    "v1_cosine_pairs" ->
      """SELECT a.vec_id AS qid, b.vec_id AS nid,
        |  ROUND(list_cosine_similarity(
        |    list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |    list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |ORDER BY qid""".stripMargin,
    "v2_ann_topk" ->
      """WITH cs AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    list_cosine_similarity(
        |      list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |      list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS c
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 10)
        |SELECT qid,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS INTEGER) AS rnk,
        |  nid, ROUND(c, 6) AS cos_sim
        |FROM cs QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "v3_centroid_by_label" ->
      """SELECT label, CAST(i AS INTEGER) AS pos,
        |  ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS centroid_v
        |FROM embeddings, UNNEST(generate_series(1, 64)) t(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin,
    "v6_int8_quant" ->
      """WITH base AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |scaled AS (
        |  SELECT vec_id, emb,
        |    CAST(127.0 AS DOUBLE) / GREATEST(
        |      list_aggregate(list_transform(emb, x -> abs(x)), 'max'), 1e-12) AS scale
        |  FROM base),
        |deq AS (
        |  SELECT vec_id, emb,
        |    list_transform(list_transform(emb, x -> CAST(round(x * scale) AS INTEGER)),
        |      q -> q / scale) AS dv
        |  FROM scaled)
        |SELECT vec_id,
        |  ROUND(list_cosine_similarity(emb, dv), 6) AS cos_deq,
        |  ROUND(list_aggregate(
        |    list_transform(list_zip(emb, dv), p -> abs(p[1] - p[2])), 'max'), 6)
        |    AS max_abs_err
        |FROM deq ORDER BY vec_id""".stripMargin,
    // replicates KMeans.fit(k=8, rounds=1) end-to-end: nearest-seed
    // assignment, the DECIMAL-exact per-dimension recenter (decimal
    // addition is associative, so Spark's partial-agg order and
    // DuckDB's scan order reach the same double), reassignment
    "v8_kmeans" ->
      """WITH base AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |seeds AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl,
        |    emb AS cvec
        |  FROM base ORDER BY vec_id LIMIT 8),
        |s1 AS (
        |  SELECT b.vec_id, b.emb, c.cl,
        |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
        |      ORDER BY list_cosine_similarity(b.emb, c.cvec) DESC, c.cl) AS rn
        |  FROM base b CROSS JOIN seeds c),
        |a1 AS (SELECT vec_id, emb, cl FROM s1 WHERE rn = 1),
        |ex AS (SELECT cl, unnest(emb) AS v,
        |         unnest(range(len(emb))) AS pos FROM a1),
        |r1 AS (SELECT cl, pos,
        |         CAST(SUM(CAST(v AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS m
        |       FROM ex GROUP BY cl, pos),
        |c1 AS (SELECT cl, list(m ORDER BY pos) AS cvec FROM r1 GROUP BY cl),
        |s2 AS (
        |  SELECT b.vec_id, c.cl, list_cosine_similarity(b.emb, c.cvec) AS c,
        |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
        |      ORDER BY list_cosine_similarity(b.emb, c.cvec) DESC, c.cl) AS rn
        |  FROM base b CROSS JOIN c1 c)
        |SELECT vec_id, cl AS cluster, ROUND(c, 6) AS cent_cos
        |FROM s2 WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // replays the sign pack (two 32-bit words — bit 63 never set, so
    // DuckDB's checked BIGINT arithmetic can't overflow), the Hamming
    // top-50 shortlist (ties: lower nid), and the cosine top-3 rerank
    "v10_binary_hamming" ->
      """WITH base AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |bits AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(generate_series(0, 31), i ->
        |      CASE WHEN emb[i + 1] > 0 THEN (CAST(1 AS BIGINT) << i)
        |        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS blo,
        |    CAST(list_sum(list_transform(generate_series(32, 63), i ->
        |      CASE WHEN emb[i + 1] > 0 THEN (CAST(1 AS BIGINT) << (i - 32))
        |        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bhi
        |  FROM base),
        |ham AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid,
        |    bit_count(xor(c.blo, q.blo)) + bit_count(xor(c.bhi, q.bhi)) AS ham
        |  FROM bits q JOIN bits c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |short AS (
        |  SELECT qid, nid FROM ham
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham, nid) <= 50),
        |rer AS (
        |  SELECT s.qid, s.nid, list_cosine_similarity(a.emb, b.emb) AS cs
        |  FROM short s
        |  JOIN base a ON a.vec_id = s.qid
        |  JOIN base b ON b.vec_id = s.nid)
        |SELECT qid,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, nid)
        |    AS INTEGER) AS rnk,
        |  nid, ROUND(cs, 6) AS cos_sim
        |FROM rer QUALIFY rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "v11_hard_negatives" ->
      """WITH base AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |cs AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS neg_id,
        |    list_cosine_similarity(a.emb, b.emb) AS c
        |  FROM base a JOIN base b ON b.label <> a.label
        |  WHERE a.vec_id < 10)
        |SELECT qid,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, neg_id)
        |    AS INTEGER) AS rnk,
        |  neg_id, ROUND(c, 6) AS cos_sim
        |FROM cs QUALIFY rnk <= 3 ORDER BY qid, rnk""".stripMargin
  )
}
