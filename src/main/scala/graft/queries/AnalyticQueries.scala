package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.operators.AsOfJoin

/** Analytic capability extensions beyond the reference's operator set
  * (SURVEY.md §2.4 notes no grouping sets / cube / rollup / pivot; §2.3
  * notes no range/as-of joins): multi-dimensional aggregation (rollup,
  * cube, grouping sets, pivot), exact interpolated percentiles, backward
  * as-of join, band/range join, batch session windows, and the salted
  * two-phase aggregation pattern for skewed keys (§7.5 scale posture).
  *
  * Oracle parity follows the CoreQueries rules: decimal-cast sums, rounded
  * ratio aggregates, identical aliases, unique-key ORDER BY. Rollup/cube
  * rows with NULL group values get a '~' sentinel in ORDER BY only (sorts
  * after A/N/R and F/O in both engines).
  */
object AnalyticQueries {
  type Q = (SparkSession, String) => DataFrame

  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  val queries: Map[String, Q] = Map(
    // G1: ROLLUP over (returnflag, linestatus) with grouping_id.
    "g1_rollup" -> ((s, d) =>
      lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          grouping_id().as("gid"),
          dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .orderBy(col("gid"),
          coalesce(col("l_returnflag"), lit("~")),
          coalesce(col("l_linestatus"), lit("~")))),

    // G2: CUBE over (orderstatus, orderpriority).
    "g2_cube" -> ((s, d) =>
      orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
          grouping_id().as("gid"),
          dsum(col("o_totalprice")).as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy(col("gid"),
          coalesce(col("o_orderstatus"), lit("~")),
          coalesce(col("o_orderpriority"), lit("~")))),

    // G3: explicit GROUPING SETS ((flag), (status), ()).
    "g3_grouping_sets" -> ((s, d) =>
      lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().as("gid"),
          dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .orderBy(col("gid"),
          coalesce(col("l_returnflag"), lit("~")),
          coalesce(col("l_linestatus"), lit("~")))),

    // G4: pivot linestatus → columns (conditional-agg equivalent).
    "g4_pivot" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum(col("l_quantity")))
        .orderBy("l_returnflag")),

    // A12: salted two-phase aggregation — identical result to a direct
    // groupBy, but the first shuffle spreads a hot key over 8 sub-keys
    // (deterministic salt from event_id here; rand() in production).
    "a12_salted_agg" -> ((s, d) =>
      events(s, d)
        .withColumn("__salt", pmod(col("event_id"), lit(8)))
        .groupBy("event_type", "__salt")
        .agg(
          count(lit(1)).as("c"),
          sum(col("value").cast(DecimalType(18, 6))).as("sv"))
        .groupBy("event_type")
        .agg(
          sum(col("c")).as("cnt"),
          sum(col("sv")).cast("double").as("sum_value"))
        .orderBy("event_type")),

    // A13: exact interpolated per-group percentiles (scalable alternate:
    // percentile_approx — engine-specific, so the exact form is the oracle).
    "a13_percentile" -> ((s, d) =>
      orders(s, d)
        .groupBy("o_orderpriority")
        // ONE percentile buffer per group for all three quantiles (the
        // a20 r15 fix: each scalar percentile agg accumulates the whole
        // column into its own counts map)
        .agg(percentile(col("o_totalprice"),
          array(lit(0.25), lit(0.5), lit(0.75))).as("ps"))
        .select(col("o_orderpriority"),
          round(element_at(col("ps"), 1), 4).as("p25"),
          round(element_at(col("ps"), 2), 4).as("p50"),
          round(element_at(col("ps"), 3), 4).as("p75"))
        .orderBy("o_orderpriority")),

    // A15: robust outlier detection (median/MAD, Iglewicz–Hoaglin
    // modified z > 3.5) — the resistant alternative to p8's mean/σ rule
    // (one wild value inflates σ and masks every other outlier; the MAD
    // does not move). Shape: two grouped medians, each broadcast back —
    // no window over raw rows, no driver collect; same j2 back-join
    // pattern at any scale.
    "a15_robust_outliers" -> ((s, d) => {
      val o = orders(s, d).select(col("o_orderpriority").as("pri"),
        col("o_totalprice").as("price"))
      val med = o.groupBy("pri").agg(median(col("price")).as("med"))
      val withMed = o.join(broadcast(med), Seq("pri"))
      val mad = withMed.groupBy("pri")
        .agg(median(abs(col("price") - col("med"))).as("mad"))
      withMed.join(broadcast(mad), Seq("pri"))
        .groupBy("pri")
        .agg(
          round(first(col("med")), 4).as("med_price"),
          round(first(col("mad")), 4).as("mad_price"),
          sum(when(abs(lit(0.6745) * (col("price") - col("med")) / col("mad"))
            > 3.5, 1).otherwise(0)).as("n_outliers"))
        .orderBy("pri")
        .withColumnRenamed("pri", "o_orderpriority")
    }),

    // AJ1: backward as-of join — each event picks the latest order of the
    // same customer at-or-before its timestamp (right side pre-deduped to
    // one row per (custkey, orderdate) for determinism).
    "aj1_asof_join" -> ((s, d) => {
      val rightDeduped = orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max("o_orderkey").as("o_orderkey"))
      val left = events(s, d).select("event_id", "user_id", "ts")
      AsOfJoin.backward(left, rightDeduped,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          payloadCols = Seq("o_orderkey", "o_orderdate"))
        .orderBy("event_id")
    }),

    // RJ1: band/range join — lineitem prices binned by a 53-row band dim
    // joined on lo <= price < hi. The query stays a plain declarative
    // join; in graft sessions the RangeJoinRewrite rule
    // (graft.plans.RangeJoin) plans it as RangeJoinExec — binary search
    // over the broadcast bands, O(log m) per row instead of the built-in
    // BroadcastNestedLoopJoin's O(m) scan. At 100 TB with *uniform*
    // bands you'd compute the band key arithmetically instead
    // (documented here, the join form covers the non-uniform-band case).
    "rj1_range_join" -> ((s, d) => {
      val bands = s.range(0, 53).select(
        col("id").as("band"),
        (col("id") * 2000).cast("double").as("lo"),
        ((col("id") + 1) * 2000).cast("double").as("hi"))
      lineitem(s, d)
        .join(broadcast(bands),
          col("l_extendedprice") >= col("lo") &&
            col("l_extendedprice") < col("hi"))
        .groupBy("band")
        .agg(
          count(lit(1)).as("cnt"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("band")
    }),

    // RJ1b: the same band join through the explicit whole-operator API
    // (graft.plans.RangeJoin.bandJoin → RangeJoinPlan → RangeJoinExec),
    // gating the custom logical-node path independently of the rewrite
    // rule. Shares rj1's oracle.
    "rj1b_band_join_exec" -> ((s, d) => {
      val bands = s.range(0, 53).select(
        col("id").as("band"),
        (col("id") * 2000).cast("double").as("lo"),
        ((col("id") + 1) * 2000).cast("double").as("hi"))
      graft.plans.RangeJoin
        .bandJoin(lineitem(s, d).select("l_extendedprice"), bands,
          value = "l_extendedprice", lo = "lo", hi = "hi")
        .groupBy("band")
        .agg(
          count(lit(1)).as("cnt"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("band")
    }),

    // RJ1c: LEFT band join — prices tagged with a SPARSE band dim
    // (bands 10..24 only), unmatched rows KEPT with a null band. The
    // declarative left join is rewritten to RangeJoinExec by
    // RangeJoinRewrite (LeftOuter support; RangeJoinSpec plan-asserts
    // not-BNL) — without it, Spark's only non-equi left-join plan is the
    // O(n·m) BroadcastNestedLoopJoin.
    "rj1c_left_band" -> ((s, d) => {
      val bands = s.range(10, 25).select(
        col("id").as("band"),
        (col("id") * 2000).cast("double").as("lo"),
        ((col("id") + 1) * 2000).cast("double").as("hi"))
      lineitem(s, d)
        .join(broadcast(bands),
          col("l_extendedprice") >= col("lo") &&
            col("l_extendedprice") < col("hi"), "left")
        .groupBy("band")
        .agg(
          count(lit(1)).as("cnt"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("band").asc_nulls_first)
    }),

    // RJ2: time-interval join — per click, how many views did the same
    // user make in the trailing 24h? Unlike rj1 (pure inequality against
    // a broadcast dim) the user_id EQUI key carries the join: Catalyst
    // plans a hash/sort-merge equi-join on user_id with the time band as
    // a residual filter — the shape that survives fact×fact at scale
    // (never a nested loop); the streaming twin (watermarked,
    // state-bounded) is streaming.StreamingOps.intervalJoin.
    "rj2_interval_join" -> ((s, d) => {
      val e = events(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts").as("cts"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id").as("vuid"), col("ts").as("vts"))
      clicks.join(views,
          col("user_id") === col("vuid") &&
            col("vts") >= col("cts") - expr("INTERVAL 24 HOURS") &&
            col("vts") <= col("cts"), "left")
        .groupBy("event_id")
        .agg(count(col("vts")).as("n_prior_views"))
        .orderBy("event_id")
    }),

    // J7: multi-way star join (TPC-H Q5 shape) — two fact-sized equi-joins
    // shuffling on their keys, then broadcast dim chain (nation, region),
    // date filter pushed to the orders scan, grouped decimal-exact revenue,
    // top-by-revenue. The join-planning shape a warehouse lives on.
    "j7_multiway_star" -> ((s, d) =>
      lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy("n_name")
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 6))).cast("double").as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy(col("revenue").desc, col("n_name"))),

    // SW1: batch session windows — events within a 12h gap of each other
    // merge into one session per user (the batch twin of the streaming
    // sessionization in graft.streaming; oracle is gaps-and-islands SQL).
    // SW2: ORDERED FUNNEL — per user, the strictly-time-ordered
    // view → click → purchase chain (each stage's anchor is the EARLIEST
    // qualifying event after the previous stage's anchor — the greedy
    // matching every funnel engine uses; strict > so a same-microsecond
    // pair never double-counts). Conversion time is exact integer epoch
    // MICROS on both engines (whole seconds would floor differently
    // than DuckDB's fractional epoch()).
    //
    // Plan diet (r12 verdict #7): the first spelling ran one filtered
    // aggregate + one user_id equi-join PER STAGE — 9 Exchanges /
    // 16 HashAggregates for a 3-stage funnel. This one shuffles the
    // event stream ON user_id EXACTLY ONCE: the three greedy anchors
    // are chained whole-partition window minima over the SAME
    // partitioning (t2's predicate reads t1, t3's reads t2 — each
    // Window feeds the next with no re-shuffle or re-sort), a same-key
    // groupBy collapses users without another Exchange, and the 3-row
    // report is ONE global aggregate exploded from a literal array —
    // 2 Exchanges total (user_id + the final single-partition agg),
    // pinned by PlanFeatureSpec.
    "sw2_funnel" -> ((s, d) => {
      val ev = events(s, d)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("event_type"), col("ts"))
      val w = Window.partitionBy("user_id")
      val staged = ev
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts") > col("t1"),
            col("ts"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
            col("ts"))).over(w))
        .groupBy("user_id")
        .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
          max(col("t3")).as("t3"))
      staged.agg(
          count(col("t1")).as("n1"), count(col("t2")).as("n2"),
          count(col("t3")).as("n3"),
          coalesce(sum(when(col("t3").isNotNull,
            unix_micros(col("t3")) - unix_micros(col("t1")))), lit(0L))
            .as("conv"))
        .select(explode(array(
          struct(lit(1).as("stage"), lit("view").as("step"),
            col("n1").as("n_users"), lit(0L).as("convert_usecs")),
          struct(lit(2).as("stage"), lit("click").as("step"),
            col("n2").as("n_users"), lit(0L).as("convert_usecs")),
          struct(lit(3).as("stage"), lit("purchase").as("step"),
            col("n3").as("n_users"), col("conv").as("convert_usecs"))))
          .as("r"))
        .select(col("r.stage").as("stage"), col("r.step").as("step"),
          col("r.n_users").as("n_users"),
          col("r.convert_usecs").as("convert_usecs"))
        .orderBy("stage")
    }),

    "sw1_session_window" -> ((s, d) =>
      events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "12 hours"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double")
            .as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")),

    // A17: bivariate statistics — Pearson correlation and sample
    // covariance as single-pass co-moment aggregates (no two-pass
    // mean-then-deviation scan); rounded at 4 because the co-moment
    // merge order differs across engines in the last ulps.
    "a17_corr_cov" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 4)
            .as("qty_price_corr"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 4)
            .as("qty_disc_cov"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // A18: per-group least-squares fit as aggregates — slope, intercept
    // and R² of price against quantity in ONE pass over each group
    // (regr_* co-moments; no feature matrix, no collect, no ML library)
    // — the distributed form of the reference's price-model feature
    // prep. Rounded at 4 like a17: co-moment merge order is
    // engine-internal.
    "a18_regr_fit" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
            .as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4)
            .as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 4)
            .as("r2"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // A16: winsorization — clamp each group's tail values to its exact
    // [p05, p95] before summing (the robust-mean feature transform;
    // a15 detects outliers, this REPLACES them). One grouped percentile
    // pass over a 5-row result broadcast back to the fact side, then a
    // single aggregate: two shuffles total, both on the 5-key group
    // column. Decimal-cast sum keeps the clamped total
    // addition-order-independent across engines.
    "a16_winsorize" -> ((s, d) => {
      val o = orders(s, d).select(col("o_orderpriority").as("pri"),
        col("o_totalprice").as("price"))
      val pct = o.groupBy("pri")
        .agg(percentile(col("price"),
          array(lit(0.05), lit(0.95))).as("ps"))
        .select(col("pri"), element_at(col("ps"), 1).as("p05"),
          element_at(col("ps"), 2).as("p95"))
      o.join(broadcast(pct), Seq("pri"))
        .groupBy("pri")
        .agg(
          round(first(col("p05")), 4).as("p05"),
          round(first(col("p95")), 4).as("p95"),
          sum(when(col("price") < col("p05") || col("price") > col("p95"), 1L)
            .otherwise(0L)).as("n_clamped"),
          dsum(least(greatest(col("price"), col("p05")), col("p95")), 6)
            .as("sum_winsorized"))
        .orderBy("pri")
    }),

    // A19: heavy hitters via mergeable Misra–Gries summaries (see
    // operators/HeavyHitters.scala) — frequency sketches next to a14's
    // HLL distinct. Oracled with the a11/a14 pattern: the row identity is
    // the EXACT top-10 tokens with exact counts (cross-engine-hashable,
    // total-ordered by count desc / token asc), plus two booleans
    // asserting the MG estimate obeys its order-independent contract:
    // est ≤ exact (MG never overestimates) and est ≥ exact − N/(k+1)
    // (summed per-partition error bound, N = total token count). A sketch
    // or merge regression flips a boolean and hash-mismatches. The N
    // scalar is one driver pull re-injected as a literal — the a14
    // globalExact shape (at corpus scale N comes from pipeline stats).
    "a19_heavy_hitters" -> ((s, d) => {
      val toks = documents(s, d)
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      val k = 64
      // r17: n and the exact top-10 both come from ONE persisted
      // vocab-sized aggregate — the corpus tokenized 3× before (count,
      // exact agg, MG pass); now twice, the floor (the MG sketch must
      // see the raw token stream — its summary is order-sensitive and
      // the oracle replays it, so its input stays untouched).
      val grouped = toks.groupBy("token")
        .agg(count(lit(1)).as("n_exact"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = grouped.agg(coalesce(sum("n_exact"), lit(0L)))
        .head().getLong(0)
      val bound = n.toDouble / (k + 1)
      val exactTop = grouped
        .orderBy(col("n_exact").desc, col("token"))
        .limit(10)
      val est = graft.operators.HeavyHitters.approxCounts(toks, "token", k)
      exactTop.join(est, Seq("token"), "left")
        .select(col("token"), col("n_exact"),
          (coalesce(col("est"), lit(0L)) <= col("n_exact")).as("est_le_exact"),
          (coalesce(col("est"), lit(0L)).cast("double") >=
            col("n_exact").cast("double") - lit(bound)).as("est_within_bound"))
        .orderBy(col("n_exact").desc, col("token"))
    }),

    // A20: mergeable ε-approximate quantile sketch (see
    // operators/QuantileSketch.scala) — the quantile member of the
    // sketch family (a14 HLL distinct, a19 MG frequency). Deterministic
    // rank-spaced per-partition samples merged in the rank domain, so the
    // bound |true_rank(v̂) − q·N| ≤ ε·N holds on every run/partitioning.
    // Oracle identity: (q, exact interpolated quantile) — both engines
    // compute it independently (the a13 pattern) — plus a boolean
    // asserting the sketch value's EXACT rank (one conditional-agg pass)
    // lands within 2ε·N of q·N (2× headroom over the proven ε·N). The
    // driver pulls are gate-bounded: 5 sketch rows, one rank row, one
    // exact-quantile row (the a14 globalExact shape).
    "a20_quantile_sketch" -> ((s, d) => {
      import s.implicits._
      val ep = 0.01
      val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
      val o = orders(s, d).select(col("o_totalprice").as("price"))
      val est = graft.operators.QuantileSketch
        .quantiles(o, "price", ep, qs).collect()
        .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      // rank-INTERVAL check (duplicate-safe): v̂ is an ε-approximate
      // q-quantile iff #{x < v̂} ≤ q·N + tol and #{x ≤ v̂} ≥ q·N − tol —
      // with heavy duplicates a single value legitimately spans many
      // quantiles and a point-rank check would reject it.
      // .otherwise(0L): a conditional sum with zero matching rows is
      // NULL, and lo CAN be zero (v̂ == min when the minimum carries
      // ≥ q of the mass) — getLong on NULL would NPE the gate.
      // Count, rank bounds, and exact percentiles all reduce the same
      // frame, so they share ONE aggregation pass: the sketch's
      // mapPartitions is then the only other full read (was 4 passes).
      // ONE array-percentile buffer for all 5 exact quantiles: the
      // previous per-q spelling ran 5 independent percentile aggregates,
      // each accumulating every price into its own counts map — profiled
      // as the gate's dominant cost (r14 verdict watch #2: the expense
      // was this exact-verification pass, not the sketch). round() stays
      // a Spark expression (transform over the 1-row result) so the
      // oracle's HALF_UP semantics are byte-identical.
      val rankCols =
        qs.map(q => sum(when(col("price") < est(q), 1L).otherwise(0L))
          .as(s"lo$q")) ++
          qs.map(q => sum(when(col("price") <= est(q), 1L).otherwise(0L))
            .as(s"hi$q")) :+
          percentile(col("price"), array(qs.map(lit(_)): _*)).as("ps") :+
          count(lit(1)).as("n")
      val row = o.agg(rankCols.head, rankCols.tail: _*)
        .withColumn("ps", expr("transform(ps, x -> round(x, 4))"))
        .head()
      val n = row.getAs[Long]("n")
      val ps = row.getAs[scala.collection.Seq[Double]]("ps")
      val tol = 2 * ep * n
      val rows = qs.zipWithIndex.map { case (q, i) =>
        val (lo, hi) = (row.getLong(i), row.getLong(i + qs.size))
        (q, ps(i),
          lo.toDouble <= q * n + tol && hi.toDouble >= q * n - tol)
      }
      rows.toDF("q", "exact_q", "sketch_rank_ok").orderBy("q")
    }),

    // A21: GROUP BY ε-quantiles via the grouped sketch — per-key
    // rank-spaced summaries merged with per-key windows (parallel
    // across keys, bounded rows per key: no per-group sort of raw rows,
    // no single-task window — the "grouped percentile at 100 TB"
    // shape). Gate mirrors a20 per group: exact interpolated quantiles
    // for the values, duplicate-safe rank-interval booleans for the
    // sketch, tolerance 2ε·n_g per group. The per-group rank counts
    // share ONE grouped aggregation pass (the estimates enter as a
    // literal CASE over the 3 statuses).
    "a21_group_quantile_sketch" -> ((s, d) => {
      import s.implicits._
      val ep = 0.01
      val qs = Seq(0.25, 0.5, 0.75)
      val o = orders(s, d).select(col("o_orderstatus").as("st"),
        col("o_totalprice").as("price"))
      val est = graft.operators.QuantileSketch
        .groupedQuantiles(o, "st", "price", ep, qs).collect()
        .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      val sts = est.keys.map(_._1).toSeq.distinct.sorted
      def estCol(q: Double) = sts.tail
        .foldLeft(when(col("st") === sts.head, lit(est((sts.head, q))))) {
          (acc, g) => acc.when(col("st") === g, lit(est((g, q))))
        }
      val aggCols =
        qs.map(q => sum(when(col("price") < estCol(q), 1L).otherwise(0L))
          .as(s"lo$q")) ++
          qs.map(q => sum(when(col("price") <= estCol(q), 1L).otherwise(0L))
            .as(s"hi$q")) :+
          // one array-percentile buffer per group, not one per (group, q)
          // — the a20 fix applied to the grouped form
          percentile(col("price"), array(qs.map(lit(_)): _*)).as("ps") :+
          count(lit(1)).as("n")
      val rows = o.groupBy("st").agg(aggCols.head, aggCols.tail: _*)
        .withColumn("ps", expr("transform(ps, x -> round(x, 4))"))
        .collect().toSeq.flatMap { r =>
          val st = r.getString(0)
          val n = r.getAs[Long]("n")
          val ps = r.getAs[scala.collection.Seq[Double]]("ps")
          val tol = 2 * ep * n
          qs.zipWithIndex.map { case (q, i) =>
            val lo = r.getAs[Long](s"lo$q")
            val hi = r.getAs[Long](s"hi$q")
            (st, q, ps(i),
              lo.toDouble <= q * n + tol && hi.toDouble >= q * n - tol)
          }
        }
      rows.toDF("st", "q", "exact_q", "sketch_rank_ok").orderBy("st", "q")
    }),

    // A22: count-min sketch point-frequency estimates (see
    // operators/CountMin.scala) — the fourth mergeable sketch next to
    // a14 HLL / a19 MG / a20 quantiles. The md5 hashing makes the whole
    // d×w sketch deterministic and engine-portable, so the oracle
    // recomputes the sketch AND the exact estimate values cell-for-cell
    // in DuckDB — `est` is hash-gated, not just bound-gated — plus the
    // always-true CM guarantee boolean est ≥ exact (collisions only
    // ever ADD, on any run, order, or partitioning). Probes are the
    // exact top-10 tokens (a19's deterministic identity).
    "a22_countmin" -> ((s, d) => {
      val toks = documents(s, d)
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      val (depth, width) = (4, 512)
      val sk = graft.operators.CountMin.sketch(toks, "token", depth, width)
      val exactTop = toks.groupBy("token")
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("token"))
        .limit(10)
      val est = graft.operators.CountMin
        .estimate(exactTop.select("token"), "token", sk, depth, width)
      exactTop.join(broadcast(est), Seq("token"))
        .select(col("token"), col("n_exact"), col("est"),
          (col("est") >= col("n_exact")).as("never_under"))
        .orderBy(col("n_exact").desc, col("token"))
    }),

    // A23: MAD robust outlier gate — the resistant sibling of p8's
    // 4σ filter: median + median-absolute-deviation are immune to the
    // very outliers they hunt (a single 1e9 row drags a mean/σ gate's
    // own threshold, but not the median's). Scaled by the normal
    // consistency constant 1.4826; cut at 3.5 scaled MADs (Iglewicz &
    // Hoaglin's recommended modified-z cut). Two grouped percentile
    // aggs + two broadcast back-joins (the j2 shape) — no window over
    // raw rows. Engines compute med/MAD independently (the a13/a16
    // exact-interpolation parity precedent). Target: the long-tailed
    // events.value per event_type (median ≈ 35, max ≈ 400 — the cut
    // flags ~4% of each group; on the symmetric bounded TPC-H price
    // columns the same gate is vacuously zero).
    "a23_mad_outliers" -> ((s, d) => {
      val e = events(s, d).select(col("event_type").as("g"), col("value"))
      val med = e.groupBy("g").agg(percentile(col("value"), lit(0.5)).as("med"))
      val dev = e.join(broadcast(med), Seq("g"))
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy("g")
        .agg(percentile(col("adev"), lit(0.5)).as("mad"))
      dev.join(broadcast(mad), Seq("g"))
        .groupBy("g")
        .agg(
          round(first(col("med")), 4).as("med"),
          round(first(col("mad")), 4).as("mad"),
          // 3.5 · 1.4826 pre-folded to ONE literal: a 2-literal product
          // is DECIMAL-exact in DuckDB but IEEE in Spark — the folded
          // constant reads as the identical double in both engines
          sum(when(col("adev") > lit(5.1891) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n"))
        .orderBy("g")
    }),

    // A24: equal-frequency quantile discretization (feature binning) —
    // the scale-sound spelling: ONE exact-percentile aggregate yields
    // the 9 decile cut points (bounded driver pull, the a14 scalar
    // pattern), which re-enter as literals in a pure-projection bin
    // assignment `bin = #cuts strictly below price`. No NTILE — a
    // global NTILE window is Exchange SinglePartition, the a20 sin;
    // this shape is two linear passes and bins any corpus size. Cut
    // values are interpolated percentiles — exact cross-engine parity
    // (the a13/a16 precedent), so the > comparisons agree row-for-row.
    "a24_quantile_binning" -> ((s, d) => {
      val o = orders(s, d).select(col("o_totalprice").as("price"))
      val cuts = o.agg(percentile(col("price"),
          typedlit((1 to 9).map(_ / 10.0))).as("cs"))
        .head().getSeq[Double](0)
      val binCol = cuts.foldLeft(lit(0)) { (acc, c) =>
        acc + when(col("price") > lit(c), 1).otherwise(0)
      }
      o.withColumn("bin", binCol)
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          round(min(col("price")), 4).as("min_p"),
          round(max(col("price")), 4).as("max_p"))
        .orderBy("bin")
    }),

    // A25: correlation MATRIX in one pass — all pairwise Pearson
    // correlations of 4 lineitem measures from a SINGLE aggregate
    // (6 corr() columns over one scan; a17's rounding parity), then
    // stacked to long form. The one-scan shape is the point: a naive
    // per-pair loop reads the table C(k,2) times.
    "a25_corr_matrix" -> ((s, d) => {
      val l = lineitem(s, d).select(
        col("l_quantity").as("qty"), col("l_extendedprice").as("price"),
        col("l_discount").as("disc"), col("l_tax").as("tax"))
      val pairs = Seq("qty" -> "price", "qty" -> "disc", "qty" -> "tax",
        "price" -> "disc", "price" -> "tax", "disc" -> "tax")
      val aggs = pairs.map { case (a, b) =>
        round(corr(col(a), col(b)), 6).as(s"${a}_$b")
      }
      val row = l.agg(aggs.head, aggs.tail: _*)
      row.selectExpr("stack(6, " + pairs.map { case (a, b) =>
        s"'$a', '$b', ${a}_$b"
      }.mkString(", ") + ") as (col_a, col_b, corr)")
        .orderBy("col_a", "col_b")
    }),

    // GR1: fixed-iteration integer PageRank over the rare-shingle
    // document similarity graph (see operators/PageRank.scala) —
    // graph-centrality quality weighting for curation, and the engine's
    // iterated sparse-matvec gate. Edges: docs sharing a WORD 3-shingle
    // (the portable-MinHash shingle idiom — ~n_words md5s per doc, not
    // one per character position) with document frequency 2..5; the df
    // cap keeps hub shingles from minting quadratic cliques — a df-5
    // shingle mints at most 20 directed edges. The edge set is
    // symmetric, so every node has outdeg ≥ 1 and PageRank's
    // no-dangling contract holds for free. Per-doc shingle dedup is
    // array_distinct INSIDE the row (no shuffle); the oracle's global
    // DISTINCT over (doc_id, h) is the same set. Shingle key: 48-bit
    // md5-prefix LONG (8-byte join/agg keys — the dd9 shuffle-width
    // rule) with the SAME integer derived in the oracle — exact parity.
    // Every arithmetic step is integer, so the DuckDB replay is exact.
    // GJ1: BUCKETED SPATIAL NEIGHBOR JOIN — "every pair of points
    // within radius R", the geo-dedup / nearby-listing primitive, as a
    // grid-cell equi-join instead of the O(n²) theta join: each point
    // lands in one R-sized cell, the probe side explodes to its 3×3
    // neighbor cells (a fixed 9× row cost), candidates are an equi-join
    // on the cell key, and the exact radius filter settles them. Any
    // pair within Euclidean R is within Chebyshev R, hence in adjacent
    // cells — candidates are provably complete; each qualifying pair
    // matches exactly once (the probe row meets the OTHER point's
    // unique home cell; id_a < id_b keeps one orientation). All math is
    // exact integer micro-degrees (md5-derived synthetic coordinates —
    // the testdata has no geo columns — and squared distances), so
    // DuckDB's all-pairs replay hash-matches bit-for-bit. r13: the
    // operator body lives in operators/GeoNeighborJoin.scala, with
    // HOT-CELL SALTING (triangle-decomposed self-join) so an urban-
    // density cell spreads over ceil(count/hotCap) tasks instead of
    // one — GeoSkewSpec soaks it with 80% of points planted in one
    // cell.
    "gj1_geo_neighbor_join" -> ((s, d) => {
      val R = 5000L // micro-degrees; cell size = R
      val pts = customer(s, d).select(col("c_custkey").as("id"),
        expr("cast(conv(substring(md5(concat('lat', cast(c_custkey as " +
          "string))), 1, 12), 16, 10) as bigint) % 1000000").as("lat_u"),
        expr("cast(conv(substring(md5(concat('lon', cast(c_custkey as " +
          "string))), 1, 12), 16, 10) as bigint) % 1000000").as("lon_u"))
      graft.operators.GeoNeighborJoin.pairs(pts, R)
        .orderBy("id_a", "id_b")
    }),

    "gr1_pagerank" -> ((s, d) => {
      val edges = rareGramPairEdges(s, d, ordered = false)
        .localCheckpoint()
      graft.operators.PageRank.scores(edges, "src", "dst", iters = 3)
        .select(col("node").as("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }),

    // GR2: PageRank over a DIRECTED graph with genuine sinks — gr1's
    // rare-shingle pairs oriented low-id → high-id, so every component's
    // maximal doc is outdeg-0 (dangling). Exercises
    // PageRank.scoresDangling's mass redistribution: each round the
    // sinks' total mass is floored-shared across all nodes, in the same
    // exact BIGINT domain, and the oracle replays all three rounds —
    // dangling sum, per-node share, floors — in integer SQL.
    "gr2_pagerank_dangling" -> ((s, d) => {
      // gr1's pair generation, oriented low → high (b > a instead of
      // b != a); no explicit checkpoint needed — scoresDangling eagerly
      // checkpoints the edge frame first thing.
      val edges = rareGramPairEdges(s, d, ordered = true)
      graft.operators.PageRank.scoresDangling(edges, "src", "dst",
          iters = 3)
        .select(col("node").as("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    })
  )

  /** gr1/gr2's shared edge construction: candidate pairs of documents
    * sharing a RARE word-3-shingle (df ∈ [2,5]), generated WITHOUT a
    * postings self-join (r17): the df ≤ 5 cut bounds every per-gram doc
    * list at 5 ids, so the ≤ 20 (ordered: ≤ 10) pairs per gram explode
    * from one collect_list over the rare-postings join. `ordered = false`
    * emits both orientations (b != a — gr1's symmetric graph, outdeg ≥ 1
    * for free); `ordered = true` emits low → high only (b > a — gr2's
    * directed graph with genuine sinks).
    *
    * The gram relation feeds the df aggregation AND the postings join
    * probe. r18: EAGER localCheckpoint, not a lazy persist — the two
    * consumers' exchange jobs launch concurrently under AQE and both
    * raced to populate the cold cache, running the corpus explode+md5
    * pass twice in parallel (OPTIMIZATION_r18.md, gr1_pagerank section: two
    * concurrent 0.95 s jobs, every
    * run — the per-run unpersist meant the race repeated in steady
    * state). One eager job tokenizes once; both consumers scan the RDD
    * and the edge plan truncates there. Same bytes stored as the old
    * persist ((doc_id, h) longs), which at 100 TB is materialized either
    * way — it is the postings relation. */
  private[graft] def rareGramPairEdges(s: SparkSession, d: String,
                                       ordered: Boolean): DataFrame = {
    val grams = documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(1, size(w) - 2),
          |  i -> cast(conv(substring(md5(concat_ws(' ', element_at(w, i),
          |         element_at(w, i + 1), element_at(w, i + 2))), 1, 12),
          |       16, 10) as bigint)))""".stripMargin)).as("h"))
      .localCheckpoint(true)
    val rare = grams.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 5))
    val cmp = if (ordered) "b > a" else "b != a"
    grams.join(rare.select("h"), "h")
      .groupBy("h").agg(collect_list(col("doc_id")).as("ds"))
      .select(explode(expr(
        s"flatten(transform(ds, a -> transform(filter(ds, b -> $cmp), " +
          "b -> named_struct('src', a, 'dst', b))))")).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .distinct()
  }

  val oracle: Map[String, String] = Map(
    "g1_rollup" ->
      """SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
        |  l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, COALESCE(l_returnflag, '~'), COALESCE(l_linestatus, '~')""".stripMargin,
    "g2_cube" ->
      """SELECT GROUPING(o_orderstatus, o_orderpriority) AS gid,
        |  o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, COALESCE(o_orderstatus, '~'), COALESCE(o_orderpriority, '~')""".stripMargin,
    "g3_grouping_sets" ->
      """SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
        |  l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, COALESCE(l_returnflag, '~'), COALESCE(l_linestatus, '~')""".stripMargin,
    "g4_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
        |  CAST(SUM(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a12_salted_agg" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a13_percentile" ->
      """SELECT o_orderpriority,
        |  ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "a15_robust_outliers" ->
      """WITH m AS (
        |  SELECT o_orderpriority AS pri, MEDIAN(o_totalprice) AS med
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT o.o_orderpriority AS pri, o.o_totalprice AS price, m.med
        |  FROM orders o JOIN m ON o.o_orderpriority = m.pri),
        |d AS (SELECT pri, MEDIAN(ABS(price - med)) AS mad FROM j GROUP BY pri)
        |SELECT j.pri AS o_orderpriority,
        |  ROUND(ANY_VALUE(j.med), 4) AS med_price,
        |  ROUND(ANY_VALUE(d.mad), 4) AS mad_price,
        |  CAST(SUM(CASE WHEN ABS(CAST(0.6745 AS DOUBLE) * (j.price - j.med)
        |    / d.mad) > CAST(3.5 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM j JOIN d USING (pri)
        |GROUP BY j.pri ORDER BY j.pri""".stripMargin,
    "aj1_asof_join" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, e.ts, r.o_orderkey, r.o_orderdate
        |FROM events e
        |ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "rj2_interval_join" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts AS cts FROM events
        |  WHERE event_type = 'click'),
        |v AS (
        |  SELECT user_id AS vuid, ts AS vts FROM events
        |  WHERE event_type = 'view')
        |SELECT c.event_id, COUNT(v.vts) AS n_prior_views
        |FROM c LEFT JOIN v ON c.user_id = v.vuid
        |  AND v.vts BETWEEN c.cts - INTERVAL 24 HOUR AND c.cts
        |GROUP BY c.event_id ORDER BY c.event_id""".stripMargin,
    "rj1_range_join" ->
      """WITH bands AS (
        |  SELECT range AS band, range * 2000.0 AS lo, (range + 1) * 2000.0 AS hi
        |  FROM range(0, 53))
        |SELECT band, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem l JOIN bands b
        |  ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "rj1b_band_join_exec" ->
      """WITH bands AS (
        |  SELECT range AS band, range * 2000.0 AS lo, (range + 1) * 2000.0 AS hi
        |  FROM range(0, 53))
        |SELECT band, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem l JOIN bands b
        |  ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "rj1c_left_band" ->
      """WITH bands AS (
        |  SELECT range AS band, range * 2000.0 AS lo, (range + 1) * 2000.0 AS hi
        |  FROM range(10, 25))
        |SELECT band, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem l LEFT JOIN bands b
        |  ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
        |GROUP BY band ORDER BY band NULLS FIRST""".stripMargin,
    "j7_multiway_star" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)))
        |    AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "sw1_session_window" ->
      """WITH gaps AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 12 HOUR
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM gaps)
        |SELECT user_id, MIN(ts) AS session_start,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "a18_regr_fit" ->
      """SELECT l_returnflag,
        |  ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  ROUND(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "a17_corr_cov" ->
      """SELECT l_returnflag,
        |  ROUND(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
        |  ROUND(covar_samp(l_quantity, l_discount), 4) AS qty_disc_cov,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "a16_winsorize" ->
      """WITH pct AS (
        |  SELECT o_orderpriority AS pri,
        |    quantile_cont(o_totalprice, 0.05) AS p05,
        |    quantile_cont(o_totalprice, 0.95) AS p95
        |  FROM orders GROUP BY 1)
        |SELECT o.o_orderpriority AS pri,
        |  ROUND(ANY_VALUE(p.p05), 4) AS p05,
        |  ROUND(ANY_VALUE(p.p95), 4) AS p95,
        |  CAST(SUM(CASE WHEN o.o_totalprice < p.p05 OR o.o_totalprice > p.p95
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
        |  CAST(SUM(CAST(LEAST(GREATEST(o.o_totalprice, p.p05), p.p95)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS sum_winsorized
        |FROM orders o JOIN pct p ON o.o_orderpriority = p.pri
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "a19_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(TRIM(text), '\s+')) AS token
        |  FROM documents),
        |t AS (SELECT token FROM toks WHERE LENGTH(token) > 0)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact,
        |  TRUE AS est_le_exact, TRUE AS est_within_bound
        |FROM t GROUP BY token
        |ORDER BY n_exact DESC, token LIMIT 10""".stripMargin,
    "a20_quantile_sketch" ->
      """SELECT CAST(0.1 AS DOUBLE) AS q,
        |  ROUND(quantile_cont(o_totalprice, 0.1), 4) AS exact_q,
        |  TRUE AS sketch_rank_ok FROM orders
        |UNION ALL SELECT 0.25, ROUND(quantile_cont(o_totalprice, 0.25), 4), TRUE FROM orders
        |UNION ALL SELECT 0.5, ROUND(quantile_cont(o_totalprice, 0.5), 4), TRUE FROM orders
        |UNION ALL SELECT 0.75, ROUND(quantile_cont(o_totalprice, 0.75), 4), TRUE FROM orders
        |UNION ALL SELECT 0.9, ROUND(quantile_cont(o_totalprice, 0.9), 4), TRUE FROM orders
        |ORDER BY q""".stripMargin,
    "a21_group_quantile_sketch" ->
      """SELECT o_orderstatus AS st, CAST(0.25 AS DOUBLE) AS q,
        |  ROUND(quantile_cont(o_totalprice, 0.25), 4) AS exact_q,
        |  TRUE AS sketch_rank_ok FROM orders GROUP BY 1
        |UNION ALL SELECT o_orderstatus, 0.5,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 4), TRUE FROM orders GROUP BY 1
        |UNION ALL SELECT o_orderstatus, 0.75,
        |  ROUND(quantile_cont(o_totalprice, 0.75), 4), TRUE FROM orders GROUP BY 1
        |ORDER BY st, q""".stripMargin,
    // Recomputes the ENTIRE deterministic d=4 × w=512 sketch from the md5
    // bucket hashes, then the min-over-rows estimates — est is checked
    // value-for-value against Spark's distributed build, not just bounded.
    "a22_countmin" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(TRIM(text), '\s+')) AS token
        |  FROM documents),
        |t AS (SELECT token FROM toks WHERE LENGTH(token) > 0),
        |rows_ AS (SELECT unnest([0, 1, 2, 3]) AS j),
        |cells AS (
        |  SELECT j,
        |    CAST(('0x' || substring(md5(token), 1 + 8 * j, 8))
        |      AS BIGINT) % 512 AS bucket,
        |    COUNT(*) AS cnt
        |  FROM t CROSS JOIN rows_ GROUP BY 1, 2),
        |top AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact
        |  FROM t GROUP BY 1 ORDER BY n_exact DESC, token LIMIT 10),
        |probe AS (
        |  SELECT p.token, p.n_exact, MIN(c.cnt) AS est
        |  FROM (SELECT token, n_exact, j,
        |          CAST(('0x' || substring(md5(token), 1 + 8 * j, 8))
        |            AS BIGINT) % 512 AS bucket
        |        FROM top CROSS JOIN rows_) p
        |  JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
        |  GROUP BY 1, 2)
        |SELECT token, n_exact, CAST(est AS BIGINT) AS est,
        |  est >= n_exact AS never_under
        |FROM probe ORDER BY n_exact DESC, token""".stripMargin,
    "a24_quantile_binning" ->
      """WITH cuts AS (
        |  SELECT quantile_cont(o_totalprice,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
        |  FROM orders),
        |binned AS (
        |  SELECT CAST(list_sum(list_transform(c.cs,
        |      x -> CASE WHEN o.o_totalprice > x THEN 1 ELSE 0 END))
        |    AS INTEGER) AS bin, o.o_totalprice AS price
        |  FROM orders o CROSS JOIN cuts c)
        |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(MIN(price), 4) AS min_p, ROUND(MAX(price), 4) AS max_p
        |FROM binned GROUP BY bin ORDER BY bin""".stripMargin,
    "a25_corr_matrix" ->
      """WITH m AS (
        |  SELECT l_quantity AS qty, l_extendedprice AS price,
        |         l_discount AS disc, l_tax AS tax
        |  FROM lineitem),
        |a AS (
        |  SELECT ROUND(corr(qty, price), 6) AS qty_price,
        |    ROUND(corr(qty, disc), 6) AS qty_disc,
        |    ROUND(corr(qty, tax), 6) AS qty_tax,
        |    ROUND(corr(price, disc), 6) AS price_disc,
        |    ROUND(corr(price, tax), 6) AS price_tax,
        |    ROUND(corr(disc, tax), 6) AS disc_tax
        |  FROM m)
        |SELECT 'qty' AS col_a, 'price' AS col_b, qty_price AS corr FROM a
        |UNION ALL SELECT 'qty', 'disc', qty_disc FROM a
        |UNION ALL SELECT 'qty', 'tax', qty_tax FROM a
        |UNION ALL SELECT 'price', 'disc', price_disc FROM a
        |UNION ALL SELECT 'price', 'tax', price_tax FROM a
        |UNION ALL SELECT 'disc', 'tax', disc_tax FROM a
        |ORDER BY col_a, col_b""".stripMargin,
    "a23_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type AS g, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type AS g, m.med, ABS(e.value - m.med) AS adev
        |  FROM events e JOIN med m ON e.event_type = m.g),
        |mad AS (SELECT g, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1)
        |SELECT d.g, ROUND(ANY_VALUE(d.med), 4) AS med,
        |  ROUND(ANY_VALUE(ma.mad), 4) AS mad,
        |  CAST(SUM(CASE WHEN d.adev > CAST(5.1891 AS DOUBLE) * ma.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM dev d JOIN mad ma ON d.g = ma.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same greedy stage chain; epoch diffs as exact BIGINT micros
    "sw2_funnel" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(v.t1) AS t1, MIN(e.ts) AS t2
        |      FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(c.t1) AS t1, MIN(e.ts) AS t3
        |      FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
        |SELECT 1 AS stage, 'view' AS step,
        |  CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(0 AS BIGINT) AS convert_usecs
        |FROM v
        |UNION ALL SELECT 2, 'click', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT)
        |FROM c
        |UNION ALL SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT),
        |  CAST(COALESCE(SUM(epoch_us(t3) - epoch_us(t1)), 0) AS BIGINT)
        |FROM p
        |ORDER BY stage""".stripMargin,
    // the all-pairs ground truth the bucketed join must equal exactly —
    // same md5-derived integer coordinates, same squared-radius test
    "gj1_geo_neighbor_join" ->
      """WITH pts AS (
        |  SELECT c_custkey AS id,
        |    CAST('0x' || substring(md5('lat' || CAST(c_custkey AS VARCHAR)),
        |      1, 12) AS BIGINT) % 1000000 AS lat_u,
        |    CAST('0x' || substring(md5('lon' || CAST(c_custkey AS VARCHAR)),
        |      1, 12) AS BIGINT) % 1000000 AS lon_u
        |  FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
        |    + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) AS dist2
        |FROM pts a JOIN pts b ON a.id < b.id
        |WHERE (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
        |    + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) <= 25000000
        |ORDER BY id_a, id_b""".stripMargin,
    // full integer-arithmetic replay: gram graph, degrees, uniform start,
    // three damped rounds with `//` floors matching Spark's `div`
    "gr1_pagerank" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS w
        |  FROM documents),
        |grams AS (SELECT DISTINCT doc_id,
        |    CAST(('0x' || substring(
        |      md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 12)) AS BIGINT) AS h
        |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
        |  WHERE len(w) >= 3),
        |rare AS (SELECT h FROM grams GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 5),
        |g AS (SELECT doc_id, h FROM grams JOIN rare USING (h)),
        |edges AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |  FROM g a JOIN g b USING (h) WHERE a.doc_id <> b.doc_id),
        |outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |base AS (SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS b FROM outdeg),
        |p0 AS (SELECT src AS doc_id, b AS score FROM outdeg, base),
        |it1 AS (SELECT e.dst AS doc_id,
        |    CAST((15 * ANY_VALUE(base.b) + 85 * SUM(p.score // o.deg)) // 100
        |      AS BIGINT) AS score
        |  FROM edges e JOIN p0 p ON p.doc_id = e.src
        |  JOIN outdeg o ON o.src = e.src CROSS JOIN base GROUP BY e.dst),
        |it2 AS (SELECT e.dst AS doc_id,
        |    CAST((15 * ANY_VALUE(base.b) + 85 * SUM(p.score // o.deg)) // 100
        |      AS BIGINT) AS score
        |  FROM edges e JOIN it1 p ON p.doc_id = e.src
        |  JOIN outdeg o ON o.src = e.src CROSS JOIN base GROUP BY e.dst),
        |it3 AS (SELECT e.dst AS doc_id,
        |    CAST((15 * ANY_VALUE(base.b) + 85 * SUM(p.score // o.deg)) // 100
        |      AS BIGINT) AS score
        |  FROM edges e JOIN it2 p ON p.doc_id = e.src
        |  JOIN outdeg o ON o.src = e.src CROSS JOIN base GROUP BY e.dst)
        |SELECT doc_id, score FROM it3
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // directed (low→high) gram graph with sinks: full replay of three
    // dangling-mass rounds — D = Σ sink scores, shared as D // N, every
    // division a floor over non-negative BIGINTs (DuckDB // ≡ Spark div)
    "gr2_pagerank_dangling" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS w
        |  FROM documents),
        |grams AS (SELECT DISTINCT doc_id,
        |    CAST(('0x' || substring(
        |      md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 12)) AS BIGINT) AS h
        |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
        |  WHERE len(w) >= 3),
        |rare AS (SELECT h FROM grams GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 5),
        |g AS (SELECT doc_id, h FROM grams JOIN rare USING (h)),
        |edges AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |  FROM g a JOIN g b USING (h) WHERE a.doc_id < b.doc_id),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |outdeg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |base AS (SELECT 1000000000000 // n AS b FROM nn),
        |p0 AS (SELECT node, b AS score FROM nodes, base),
        |d1 AS (SELECT COALESCE(SUM(p.score), 0) AS dm FROM p0 p
        |  LEFT JOIN outdeg o USING (node) WHERE o.deg IS NULL),
        |ins1 AS (SELECT e.dst AS node, SUM(p.score // o.deg) AS ins
        |  FROM edges e JOIN p0 p ON p.node = e.src
        |  JOIN outdeg o ON o.node = e.src GROUP BY e.dst),
        |it1 AS (SELECT n0.node, CAST((15 * base.b
        |    + 85 * (COALESCE(i.ins, 0) + d1.dm // nn.n)) // 100 AS BIGINT)
        |    AS score
        |  FROM nodes n0 LEFT JOIN ins1 i USING (node)
        |  CROSS JOIN base CROSS JOIN d1 CROSS JOIN nn),
        |d2 AS (SELECT COALESCE(SUM(p.score), 0) AS dm FROM it1 p
        |  LEFT JOIN outdeg o USING (node) WHERE o.deg IS NULL),
        |ins2 AS (SELECT e.dst AS node, SUM(p.score // o.deg) AS ins
        |  FROM edges e JOIN it1 p ON p.node = e.src
        |  JOIN outdeg o ON o.node = e.src GROUP BY e.dst),
        |it2 AS (SELECT n0.node, CAST((15 * base.b
        |    + 85 * (COALESCE(i.ins, 0) + d2.dm // nn.n)) // 100 AS BIGINT)
        |    AS score
        |  FROM nodes n0 LEFT JOIN ins2 i USING (node)
        |  CROSS JOIN base CROSS JOIN d2 CROSS JOIN nn),
        |d3 AS (SELECT COALESCE(SUM(p.score), 0) AS dm FROM it2 p
        |  LEFT JOIN outdeg o USING (node) WHERE o.deg IS NULL),
        |ins3 AS (SELECT e.dst AS node, SUM(p.score // o.deg) AS ins
        |  FROM edges e JOIN it2 p ON p.node = e.src
        |  JOIN outdeg o ON o.node = e.src GROUP BY e.dst),
        |it3 AS (SELECT n0.node, CAST((15 * base.b
        |    + 85 * (COALESCE(i.ins, 0) + d3.dm // nn.n)) // 100 AS BIGINT)
        |    AS score
        |  FROM nodes n0 LEFT JOIN ins3 i USING (node)
        |  CROSS JOIN base CROSS JOIN d3 CROSS JOIN nn)
        |SELECT node AS doc_id, score FROM it3
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  )
}
