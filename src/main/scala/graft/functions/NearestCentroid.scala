package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Fused nearest-centroid argmax: for an `array<double>` embedding row,
  * return `struct(cid, cos)` for the highest-cosine centroid of a
  * bounded codebook, ties to the LOWEST centroid id.
  *
  * This is the assignment kernel for SemDeDup cells and any k-means-
  * style scoring where K is thousands-to-tens-of-thousands. The naive
  * Spark spellings both collapse at that K:
  *
  *   - a `transform(centsLiteral, v -> graft_cosine(emb, v))` HOF keeps
  *     the plan shuffle-free but embeds K × dim doubles in the plan
  *     tree (analyzed, serialized, and pretty-printed per query) and
  *     evaluates the lambda interpreted, K times per row;
  *   - `crossJoin(broadcast(cents))` + `min_by` argmax materializes
  *     N × K PHYSICAL rows. The per-row join/project/aggregate
  *     machinery (~100 ns) swamps the ~dim-FMA scoring kernel it
  *     wraps, and the struct-typed `min_by` buffer forces the
  *     re-aggregation off the fast primitive HashAggregate path —
  *     measured 77× slower than this expression end-to-end at
  *     N=200k, K=2000 (553 s vs 7.2 s; COVERAGE.md, fused
  *     nearest-centroid row).
  *
  * Here the whole argmax is ONE expression eval: the codebook travels
  * as a [[Broadcast]] of flat primitive arrays (one torrent fetch per
  * executor, nothing in the plan tree), the query row is staged into a
  * local `double[]`, and the K × dim dot-product loop runs in-register
  * with precomputed centroid norms. Zero joins, zero shuffles, zero
  * row expansion — assignment stays a pure projection at any K the
  * driver can hold (the k-means-codebook contract; 50k × 768 ≈ 300 MB).
  *
  * Numeric contract: per-candidate cosine is bit-identical to
  * [[CosineSimilarity]] (same accumulation order, `dot / (√nx · √ny)`
  * with the norms square-rooted separately), so the argmax matches the
  * HOF spelling bit-for-bit — SemDedupSpec pins the parity. Zero-norm
  * centroids are skipped (their cosine is undefined → SQL null in the
  * HOF spelling, which `array_max` ignores); a zero-norm or
  * wrong-dimension query yields null, as does an all-skipped codebook.
  */
case class NearestCentroid(child: Expression,
                           codebook: Broadcast[NearestCentroid.Codebook],
                           nprobe: Int = 0)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_centroid expects array<double>, got ${t.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_centroid"

  @transient private lazy val cb: NearestCentroid.Codebook = codebook.value

  override def nullSafeEval(a: Any): Any = bestRow(a.asInstanceOf[ArrayData])

  /** The fused argmax; called from both interpreted eval and codegen.
    * Exact full scan when the codebook has no group structure (or
    * `nprobe` covers every group); otherwise the two-level probe: score
    * the ~√K group representatives, then scan only the top-`nprobe`
    * groups' member centroids. */
  def bestRow(x: ArrayData): InternalRow = {
    val dim = cb.dim
    if (x.numElements() != dim) return null
    val q = new Array[Double](dim)
    var nx = 0.0
    var i = 0
    while (i < dim) {
      // a NULL element reads as a fabricated 0.0 through getDouble —
      // the row would assign to a garbage cell; route it to the null
      // cell like the zero-norm/wrong-dim unassignables instead
      if (x.isNullAt(i)) return null
      val v = x.getDouble(i); q(i) = v; nx += v * v; i += 1
    }
    if (nx == 0.0) return null
    val snx = math.sqrt(nx)
    val flat = cb.flat
    val sny = cb.sny

    // one candidate's cosine, bit-identical to CosineSimilarity
    @inline def score(c: Int): Double = {
      val off = c * dim
      var dot = 0.0
      var j = 0
      while (j < dim) { dot += q(j) * flat(off + j); j += 1 }
      dot / (snx * sny(c))
    }

    var best = 0.0
    var bestCid = 0L
    var found = false
    // lowest-cid-wins tie-break, scan-order independent (the exact path
    // scans in ascending cid order, where "first strict max" is the
    // same rule; the probe path scans groups out of cid order)
    @inline def consider(c: Int): Unit = {
      if (sny(c) != 0.0) {
        val cos = score(c)
        val cid = cb.cids(c)
        if (!found || cos > best || (cos == best && cid < bestCid)) {
          best = cos; bestCid = cid; found = true
        }
      }
    }

    val g = cb.groups
    if (g == null || nprobe <= 0) {
      val k = cb.cids.length
      var c = 0
      while (c < k) { consider(c); c += 1 }
    } else {
      // stage 1: top-nprobe group representatives (insertion into a
      // p-sized list; ties to the lower group index — deterministic).
      // nprobe >= nG probes every group = provably exact (each centroid
      // is a member of exactly one group, and the tie rule is
      // scan-order independent) — the spec's parity lever.
      val nG = g.seedIdx.length
      val p = math.min(nprobe, nG)
      val topG = new Array[Int](p)
      val topS = new Array[Double](p)
      var filled = 0
      var gi = 0
      while (gi < nG) {
        val s = score(g.seedIdx(gi)) // seeds are non-zero-norm by build
        var pos = filled
        while (pos > 0 && topS(pos - 1) < s) pos -= 1
        if (pos < p) {
          val last = math.min(filled, p - 1)
          var m = last
          while (m > pos) { topS(m) = topS(m - 1); topG(m) = topG(m - 1); m -= 1 }
          topS(pos) = s; topG(pos) = gi
          if (filled < p) filled += 1
        }
        gi += 1
      }
      // stage 2: scan the probed groups' members
      var t = 0
      while (t < filled) {
        val grp = topG(t)
        var m = g.memberStart(grp)
        val end = g.memberStart(grp + 1)
        while (m < end) { consider(g.members(m)); m += 1 }
        t += 1
      }
    }
    if (!found) null
    else new GenericInternalRow(Array[Any](bestCid, best))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the K×dim loop dwarfs a virtual call, so codegen just dispatches
    // into bestRow — keeping the surrounding stage in whole-stage
    // codegen without duplicating the kernel in Java source
    val ref = ctx.addReferenceObj("graftNearest", this,
      classOf[NearestCentroid].getName)
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = $ref.bestRow($a);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroid {

  /** Two-level probe structure over a codebook: `seedIdx(g)` is the
    * centroid index representing group g (non-zero-norm, evenly spaced
    * in cid order — deterministic); CSR member lists assign EVERY
    * centroid to its highest-cosine seed (ties to the lower group). */
  case class Groups(seedIdx: Array[Int], memberStart: Array[Int],
                    members: Array[Int])

  /** Flat primitive codebook: centroid ids sorted ASCENDING (the
    * tie-break order), row-major `flat` of size k × dim, and `sny` the
    * per-centroid √(Σv²) with the same left-to-right accumulation as
    * [[CosineSimilarity]] (bit-parity contract). `groups` is the
    * optional two-level probe structure (null = exact scans only). */
  case class Codebook(cids: Array[Long], flat: Array[Double],
                      sny: Array[Double], dim: Int,
                      groups: Groups = null)

  def buildCodebook(cents: Seq[(Long, Seq[Double])],
                    nGroups: Int = 0): Codebook = {
    require(cents.nonEmpty, "nearest_centroid: empty codebook")
    val sorted = cents.sortBy(_._1)
    val dim = sorted.head._2.length
    require(sorted.forall(_._2.length == dim),
      s"nearest_centroid: inconsistent centroid dims (expected $dim)")
    val k = sorted.length
    val cids = new Array[Long](k)
    val flat = new Array[Double](k * dim)
    val sny = new Array[Double](k)
    var c = 0
    while (c < k) {
      cids(c) = sorted(c)._1
      val vec = sorted(c)._2
      var ny = 0.0
      var j = 0
      while (j < dim) {
        val v = vec(j); flat(c * dim + j) = v; ny += v * v; j += 1
      }
      sny(c) = math.sqrt(ny)
      c += 1
    }
    val base = Codebook(cids, flat, sny, dim)
    if (nGroups <= 1) base
    else base.copy(groups = buildGroups(base, nGroups))
  }

  /** Driver-side one-time group build: pick `nGroups` evenly-spaced
    * non-zero-norm centroids as seeds, assign every centroid to its
    * highest-cosine seed. O(K × G × dim) flops once — the cost the
    * probe then saves PER ROW, forever. */
  private def buildGroups(cb: Codebook, nGroups: Int): Groups = {
    val k = cb.cids.length
    val dim = cb.dim
    val nz = (0 until k).filter(cb.sny(_) != 0.0).toArray
    if (nz.isEmpty) return null
    val g = math.min(nGroups, nz.length)
    val seedIdx = Array.tabulate(g)(i => nz((i.toLong * nz.length / g).toInt))
    val assign = new Array[Int](k)
    var c = 0
    while (c < k) {
      var bestG = 0
      var bestS = Double.NegativeInfinity
      var gi = 0
      while (gi < g) {
        val s = seedIdx(gi)
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += cb.flat(c * dim + j) * cb.flat(s * dim + j); j += 1 }
        val cos =
          if (cb.sny(c) == 0.0) 0.0 else dot / (cb.sny(c) * cb.sny(s))
        if (cos > bestS) { bestS = cos; bestG = gi }
        gi += 1
      }
      assign(c) = bestG
      c += 1
    }
    val counts = new Array[Int](g + 1)
    c = 0
    while (c < k) { counts(assign(c) + 1) += 1; c += 1 }
    var gi = 1
    while (gi <= g) { counts(gi) += counts(gi - 1); gi += 1 }
    val memberStart = counts.clone()
    val members = new Array[Int](k)
    val cursor = memberStart.clone()
    c = 0
    while (c < k) { members(cursor(assign(c))) = c; cursor(assign(c)) += 1; c += 1 }
    Groups(seedIdx, memberStart, members)
  }

  /** Column surface: broadcast `cents` once on `spark` and score `emb`
    * rows against it. The returned column is `struct(cid, cos)`.
    *
    * `nprobe = 0` (default) is the exact full-codebook argmax. `nprobe
    * > 0` switches to the two-level probe: the codebook is grouped
    * under ~√K representative centroids at build time, and each row
    * scores the G representatives plus the members of its top-`nprobe`
    * groups — per-row work drops from K to ~(√K + nprobe·√K) dot
    * products, the difference between quadratic and N^1.5 total flops
    * when K grows with the corpus. Approximate at small nprobe (a row
    * whose true nearest centroid lives in an unprobed group gets its
    * best PROBED centroid), exact again at nprobe ≥ G; a query equal to
    * a centroid always probes its own group first, so codebook members
    * self-assign at any nprobe ≥ 1. */
  def assignColumn(spark: org.apache.spark.sql.SparkSession, emb: Column,
                   cents: Seq[(Long, Seq[Double])],
                   nprobe: Int = 0): Column = {
    val nGroups =
      if (nprobe <= 0) 0 else math.ceil(math.sqrt(cents.length)).toInt
    val bc = spark.sparkContext.broadcast(buildCodebook(cents, nGroups))
    // float-array corpora arrive via an explicit cast (no-op when the
    // column is already array<double> — Catalyst elides it)
    org.apache.spark.sql.GraftDatasetShim.column(
      NearestCentroid(org.apache.spark.sql.GraftDatasetShim.expression(
        emb.cast("array<double>")), bc, nprobe))
  }
}
