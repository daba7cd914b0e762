package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.GraftSession
import graft.gold.GoldEtl
import graft.scd.{RegionedLayout, Scd2}
import graft.silver.SilverEtl
import graft.store.{PointerCommit, SnapshotStore}

/** Benchmark driver for the graft engine: one workload, one seed, one
  * process on `local[nproc]`, one closed-loop client.
  *
  *   perfbench.Main --workload <etl_incremental_day|read_mix>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --base <dir>
  *     [--trace-out <file>] [--expected <tsv>] [--record <dir>]
  *   perfbench.Main --workload prepare --work <dir> --base <dir>
  *
  * `prepare` builds the seed-free starting inputs of a build under
  * `--base` (the day-1 lake, the post-day-2 lake and the query tables)
  * and marks them done with `--base`/_OK. A run then sets up three times
  * into fresh directories (the median is `setup_s`); the last set-up
  * feeds the timed region. The seed picks the day's batch and the range
  * read's price band.
  *
  * A pass of `etl_incremental_day` is one bronze day on the lake its
  * set-up restored, and a run makes exactly one, as the nightly job does
  * in its own JVM. A pass of `read_mix` is every lake read and registry
  * query once, in a fixed order; the first pass is cold, and warm passes
  * follow until `--seconds` have elapsed (at least one). Every pass is
  * checked; the last stdout line is the JSON result.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, base: Path,
                        traceOut: Option[Path], expected: Option[Path],
                        record: Option[Path])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    if (m.get("workload").contains("prepare"))
      return Opts("prepare", 0L, 0.0, false, Paths.get(need("work")), Paths.get(need("base")),
        None, None, None)
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("base")),
      m.get("trace-out").map(Paths.get(_)), m.get("expected").map(Paths.get(_)),
      m.get("record").map(Paths.get(_)))
  }

  val SetupReps = 3
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  /** Seed of the shared starting lakes; runs draw their own days from
    * `--seed`. */
  val BaseSeed = 0L

  // Sizes are set by the benchmark's time budget, about a minute per run
  // of each workload, which one ETL day in a fresh JVM nearly fills on
  // its own. etl_incremental_day has the recorded soak's shape at half
  // its volume: a 50k-record day 1, then a 15k day 2 (10k updates, 5k
  // new keys; BronzeGen fixes the shares inside each day). read_mix
  // reads query tables of the registry's sf0.1 test data (600k
  // lineitems, 5k documents, 2k vectors) and a lake of the soak's shape
  // at a tenth of its volume.
  val Day1Records = 50000
  val ReadDay1Records = 10000
  val Lineitems = 600000L
  val Docs = 5000L
  val Vectors = 2000L

  /** Registry queries timed by read_mix: headline read queries of
    * `graft.Bench` (its write gates s6b and cp1 never): a grouped
    * aggregate, and MinHash LSH dedup over the pair cache the set-up
    * builds. Each costs 1-3 s cold and ~1 s warm, so more do not fit
    * the time budget. */
  val RegistryQueries: Seq[String] = Seq("q1_agg", "dd4_minhash_lsh")

  private def clockOf(day: String): Column = lit(s"$day 23:00:00").cast("timestamp")

  // ------------------------------------------------------------ tracing

  @volatile private var recorder: Option[Recorder] = None
  private def span[T](layer: String, name: String)(body: => T): T =
    recorder.fold(body)(_.span(layer, name)(body))

  // ------------------------------------------------------------- checks

  /** Collects failed output checks of the current pass. */
  final class Checks {
    val failures = mutable.ArrayBuffer[String]()
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) failures += s"$what: got $got, want $want"
  }

  /** Row count and an order-insensitive content hash of a result.
    * Floating columns are rounded so the hash does not see summation
    * order. */
  def digest(df: DataFrame): (Long, Long) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(shiftright(col("h"), 16)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  // ---------------------------------------------------------------- ETL

  final case class Lake(root: Path) {
    val silver: String = root.resolve("silver").toString
    val gold: String = root.resolve("gold").toString
    def cfg(day: String): SilverEtl.RunConfig = SilverEtl.RunConfig(silver,
      root.resolve("quarantine").toString, root.resolve("metadata").toString,
      s"run_$day", day)
  }

  private def silverDay(spark: SparkSession, bronze: String, lake: Lake,
                        day: String): SilverEtl.EtlStats = {
    val df = span("silver", "SilverEtl.readBronze")(SilverEtl.readBronze(spark, bronze, day))
    span("silver", "SilverEtl.run")(SilverEtl.run(spark, df, lake.cfg(day),
      clock = clockOf(day), commit = PointerCommit, layout = RegionedLayout))
  }

  private def fullGold(spark: SparkSession, lake: Lake, day: String): Unit =
    span("gold", "GoldEtl.run")(GoldEtl.run(spark, lake.silver, lake.gold,
      clock = clockOf(day), commit = PointerCommit, layout = RegionedLayout))

  private def incrementalDay(spark: SparkSession, bronze: String, lake: Lake): SilverEtl.EtlStats = {
    val day = BronzeGen.Day2
    val stats = silverDay(spark, bronze, lake, day)
    span("gold", "GoldEtl.runIncremental")(GoldEtl.runIncremental(spark, lake.silver,
      lake.gold, day, clock = clockOf(day), commit = PointerCommit, layout = RegionedLayout))
    span("scd", "Scd2.compactClosed")(Scd2.compactClosed(spark, lake.silver,
      commit = PointerCommit))
    Seq(Scd2.currentRoot(lake.silver), Scd2.closedRoot(lake.silver), lake.gold)
      .foreach(p => span("store", "SnapshotStore.vacuum")(SnapshotStore.vacuum(spark, p)))
    stats
  }

  /** The output checks every ETL day must pass. */
  private def checkDay(spark: SparkSession, lake: Lake, stats: SilverEtl.EtlStats,
                       d: BronzeGen.Day, ck: Checks): Unit = {
    val c = d.counts
    ck.expect("records_read", stats.recordsRead, c.read)
    ck.expect("records_valid", stats.recordsValid, c.valid)
    ck.expect("records_invalid", stats.recordsInvalid, c.invalid)
    ck.expect("duplicates_removed", stats.duplicatesRemoved, c.duplicates)
    ck.expect("records_written", stats.recordsWritten, d.liveKeys + d.closedRows)
    val hist = Scd2.readRegioned(spark, lake.silver, PointerCommit)
    ck.expect("scd2_violations", Scd2.violations(hist), 0L)
    val r = hist.agg(
      sum(when(col("is_current") === true, 1L).otherwise(0L)),
      sum(when(col("is_current") === false, 1L).otherwise(0L)),
      sum(when(col("is_current") === false && col("valid_to").isNull, 1L).otherwise(0L)))
      .head()
    ck.expect("current_rows", r.getLong(0), d.liveKeys)
    ck.expect("closed_rows", Option(r.get(1)).getOrElse(0L), d.closedRows)
    ck.expect("closed_without_valid_to", Option(r.get(2)).getOrElse(0L), 0L)
    val g = PointerCommit.read(spark, lake.gold)
      .agg(count(lit(1)), countDistinct(col("project_id"))).head()
    ck.expect("gold_rows", g.getLong(0), d.liveKeys)
    ck.expect("gold_distinct_projects", g.getLong(1), d.liveKeys)
  }

  // ------------------------------------------------------------ workloads

  /** One workload: set-up, then passes. `pass` is the timed unit and
    * reports each operation's latency under its kind; `check` is
    * untimed. */
  trait Workload {
    def setup(dir: Path): Unit
    /** whether to make another pass, after `done` passes */
    def another(done: Int, timeLeft: Boolean): Boolean
    def pass(i: Int, ck: Checks, lat: (String, Double) => Unit): Unit
    def check(i: Int, ck: Checks): Unit = ()
    /** operations one pass attempts */
    def opsPerPass: Int
    /** the bronze day one pass ingests, if any */
    def ingests: Option[BronzeGen.Day] = None
    /** bytes on disk under the lake after the last pass */
    def lakeBytes: Long
  }

  private def duBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  /** Builds the seed-free starting inputs under `base`, built in place
    * (stats sidecars name files by absolute path, so the read lake must
    * not move), and marks them done last: `day1/lake`, the day-1 lake
    * every `etl_incremental_day` run restores; `read_mix/lake`, a lake
    * of the same shape after its day 2, with a stats sidecar;
    * `read_mix/sf`, the query tables. */
  def prepare(spark: SparkSession, base: Path): Unit = {
    rmrf(base)
    val day1 = base.resolve("day1")
    BronzeGen.generate(day1, BaseSeed, Day1Records, None, Set(BronzeGen.Day1))
    val l1 = Lake(day1.resolve("lake"))
    silverDay(spark, day1.resolve("bronze").toString, l1, BronzeGen.Day1)
    fullGold(spark, l1, BronzeGen.Day1)
    rmrf(day1.resolve("bronze"))

    val rm = base.resolve("read_mix")
    val l2 = Lake(rm.resolve("lake"))
    BronzeGen.generate(rm, BaseSeed, ReadDay1Records, Some(BaseSeed + 1),
      Set(BronzeGen.Day1, BronzeGen.Day2))
    silverDay(spark, rm.resolve("bronze").toString, l2, BronzeGen.Day1)
    fullGold(spark, l2, BronzeGen.Day1)
    incrementalDay(spark, rm.resolve("bronze").toString, l2)
    // the stats sidecar for range reads
    Scd2.optimizeCurrentWithStats(spark, l2.silver, "min_selling_price",
      numFiles = 8, statCols = Seq("min_selling_price"))
    rmrf(rm.resolve("bronze"))
    SfGen.write(spark, rm.resolve("sf").toString, BaseSeed, Lineitems, Docs, Vectors)
    Files.createFile(base.resolve("_OK"))
  }

  /** The seeded day-2 batch through silver, incremental gold and
    * maintenance, on the pristine day-1 lake the set-up restored. A run
    * makes one pass, as the nightly job runs one day per JVM. */
  final class IncrementalDay(spark: SparkSession, seed: Long, base: Path) extends Workload {
    private var bronze = ""
    private var day: BronzeGen.Day = _
    private var lake: Lake = _
    private var stats: SilverEtl.EtlStats = _

    def setup(dir: Path): Unit = {
      day = BronzeGen.generate(dir, BaseSeed, Day1Records, Some(seed),
        Set(BronzeGen.Day2))._2.get
      bronze = dir.resolve("bronze").toString
      lake = Lake(dir.resolve("lake"))
      copyTree(base.resolve("day1/lake"), lake.root)
    }
    def another(done: Int, timeLeft: Boolean): Boolean = done == 0
    def opsPerPass: Int = 1
    def pass(i: Int, ck: Checks, lat: (String, Double) => Unit): Unit =
      stats = incrementalDay(spark, bronze, lake)
    override def check(i: Int, ck: Checks): Unit = checkDay(spark, lake, stats, day, ck)
    override def ingests: Option[BronzeGen.Day] = Some(day)
    def lakeBytes: Long = duBytes(lake.root)
  }

  /** Lake reads against the post-day-2 lake mixed with registry queries;
    * the seed picks the price band of the range read. Each read's row
    * count and content hash must match the prediction (lake reads) and
    * the first pass (every read). */
  final class ReadMix(spark: SparkSession, seed: Long, base: Path,
                      expected: Option[Path] = None) extends Workload {
    private var sfDir = ""
    private val baseSf = base.resolve("read_mix/sf").toString
    /** (rows, hash) recorded once per read (`--record`), for the reads
      * that do not depend on the seed */
    private val recorded: Map[String, (Long, Long)] = expected.filter(Files.exists(_))
      .map(p => Files.readAllLines(p).asScala.map(_.split("\t")).collect {
        case Array(n, r, h) => n -> ((r.toLong, h.toLong)) }.toMap)
      .getOrElse(Map.empty)
    // reads never write the lake, so every run reads the prepared one
    private val lake = Lake(base.resolve("read_mix/lake"))
    private var ops: Seq[(String, String, () => DataFrame)] = Nil
    private val expectedRows = mutable.HashMap[String, Long]()
    private val firstDigest = mutable.HashMap[String, (Long, Long)]()
    private val RangeLo = 1.0e9 + new Random(seed).nextDouble() * 1.5e9
    private val RangeHi = RangeLo + 0.5e9

    def setup(dir: Path): Unit = {
      val (d1, d2o) = BronzeGen.generate(dir, BaseSeed, ReadDay1Records,
        Some(BaseSeed + 1), Set.empty)
      val d2 = d2o.get
      // the query tables are this run's copy, so per-corpus caches and
      // indexes are built here, not found from an earlier run
      sfDir = dir.resolve("sf").toString
      copyTree(Paths.get(baseSf), Paths.get(sfDir))
      val cur = Scd2.currentRoot(lake.silver)
      val Seq(v1, v2) = SnapshotStore.versions(spark, cur).take(2)
      // per-corpus artifact: dd4's LSH candidate-pair cache
      val docs = graft.Tables.documents(spark, sfDir)
      graft.operators.MinHashLSH.cachedPairs(docs, cacheKey = sfDir).count()
      expectedRows.clear(); firstDigest.clear()
      expectedRows ++= Seq(
        "lake_current" -> d2.liveKeys,
        "lake_history" -> (d2.liveKeys + d2.closedRows),
        "lake_time_travel" -> d1.liveKeys,
        // updates give a pre- and a post-image, new keys an insert
        "lake_change_feed" -> (2 * d2.closedRows + d2.liveKeys - d1.liveKeys),
        "lake_gold" -> d2.liveKeys,
        "lake_range" -> Scd2.readRegionedCurrent(spark, lake.silver, PointerCommit)
          .filter(col("min_selling_price").between(RangeLo, RangeHi)).count())
      val lakeOps: Seq[(String, () => DataFrame)] = Seq(
        "lake_current" -> (() => Scd2.readRegionedCurrent(spark, lake.silver, PointerCommit)),
        "lake_history" -> (() => Scd2.readRegioned(spark, lake.silver, PointerCommit)),
        "lake_range" -> (() => Scd2.readCurrentRange(spark, lake.silver,
          "min_selling_price", RangeLo, RangeHi)),
        "lake_time_travel" -> (() => SnapshotStore.readAt(spark, cur, v1)),
        "lake_change_feed" -> (() => SnapshotStore.changesBetween(spark, cur, v1, v2,
          Seq("universal_id"))),
        "lake_gold" -> (() => PointerCommit.read(spark, lake.gold)))
      val registry = graft.SparkEntry.queries
      // a fixed order (the queries, in name order, spread evenly among
      // the lake reads), so cold-start costs land on the same reads every run
      val queries = RegistryQueries.sorted.map(n => ("queries", n, () => registry(n)(spark, sfDir)))
      def spread[T](xs: Seq[T]) = xs.zipWithIndex.map { case (x, k) => ((k + 0.5) / xs.size, x) }
      ops = (spread(lakeOps.map { case (n, f) => ("lake", n, f) }) ++ spread(queries))
        .sortBy(_._1).map(_._2)
    }

    def opsPerPass: Int = ops.size
    // a cold pass, then warm passes while time is left (at least one)
    def another(done: Int, timeLeft: Boolean): Boolean = done < 2 || timeLeft

    def pass(i: Int, ck: Checks, lat: (String, Double) => Unit): Unit =
      ops.foreach { case (layer, name, f) =>
        val t0 = System.nanoTime()
        val got = try Some(span(layer, name)(digest(f()))) catch {
          case e: Exception =>
            ck.failures += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"
            None
        }
        got.foreach { g =>
          lat(layer, (System.nanoTime() - t0) / 1e9)
          expectedRows.get(name).foreach(want => ck.expect(s"$name rows", g._1, want))
          recorded.get(name).foreach(want => ck.expect(s"$name recorded digest", g, want))
          firstDigest.get(name) match {
            case Some(first) => ck.expect(s"$name digest", g, first)
            case None => firstDigest(name) = g
          }
        }
      }

    def lakeBytes: Long = duBytes(lake.root)

    /** Writes the seed-free reads' digests as `expected.tsv`, and each
      * registry query's result and oracle SQL for the DuckDB check, into
      * `dir`; returns the query tables the oracle must read. */
    def record(dir: Path): String = {
      Files.createDirectories(dir)
      val rows = firstDigest.toSeq.filter(_._1 != "lake_range").sortBy(_._1)
        .map { case (n, (r, h)) => s"$n\t$r\t$h" }
      Files.write(dir.resolve("expected.tsv"), (rows.mkString("\n") + "\n").getBytes("UTF-8"))
      val oracle = graft.SparkEntry.oracleSql
      RegistryQueries.foreach(n => graft.SparkEntry.queries(n)(spark, baseSf)
        .write.parquet(dir.resolve(s"out/$n").toString))
      val sql = RegistryQueries.flatMap(n => oracle.get(n).map(q =>
        "\"" + n + "\": \"" + q.replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", "\\n").replace("\t", "\\t") + "\""))
      Files.write(dir.resolve("out/oracle_sql.json"),
        sql.mkString("{", ",\n", "}").getBytes("UTF-8"))
      baseSf
    }
  }

  // ----------------------------------------------------------- the run

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile that still has ten samples beyond it, as
    * (percentile, value); (0, 0) when there are too few samples. */
  private def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size <= 10) (0.0, 0.0)
    else { val k = xs.size - 10; (100.0 * k / xs.size, xs.sorted.apply(k - 1)) }

  private def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def procStatusKb(field: String): Long = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith(field + ":") => l.split("\\s+")(1).toLong
    }.getOrElse(-1L) finally src.close()
  } catch { case _: Exception => -1L }

  /** Peak resident set of the timed region: a daemon thread samples
    * VmRSS every 20 ms while `on` (VmHWM would count the set-ups too). */
  private object RssPeak {
    @volatile var on = false
    @volatile private var kb = 0L
    def sample(): Unit = kb = math.max(kb, procStatusKb("VmRSS"))
    def mb: Double = kb / 1024.0
    private val t = new Thread(() => while (true) { if (on) sample(); Thread.sleep(20) })
    t.setDaemon(true)
    t.start()
  }

  private def dirtyKb(): Long = try {
    val src = scala.io.Source.fromFile("/proc/meminfo")
    try src.getLines().collect {
      case l if l.startsWith("Dirty:") || l.startsWith("Writeback:") =>
        l.trim.split("\\s+")(1).toLong
    }.sum finally src.close()
  } catch { case _: Exception => -1L }

  /** (steal, total) jiffies of the machine: stolen time means another
    * guest held this VM's CPUs, which no metric here can correct for. */
  private def cpuJiffies(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  } catch { case _: Exception => (0L, 0L) }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def log(msg: String): Unit =
    System.err.println(f"perfbench [${System.currentTimeMillis() % 1000000 / 1000.0}%.1f] $msg")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val envStart = (loadAvg(), dirtyKb())
    Files.createDirectories(o.work)
    val spark = GraftSession.builder("perfbench", Cores)
      .master(s"local[$Cores]")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (o.workload == "prepare") {
      prepare(spark, o.base)
      spark.stop()
      return
    }
    val w: Workload = o.workload match {
      case "etl_incremental_day" => new IncrementalDay(spark, o.seed, o.base)
      case "read_mix" => new ReadMix(spark, o.seed, o.base, o.expected)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, several times; the last one feeds the timed region. Each
    // set-up and the timed region start from a collected heap, so the
    // garbage of what ran before does not land in them.
    val setupS = (1 to SetupReps).map { r =>
      val dir = o.work.resolve(s"setup$r")
      System.gc()
      val t0 = System.nanoTime()
      w.setup(dir)
      val s = (System.nanoTime() - t0) / 1e9
      log(f"setup $r: $s%.2f s")
      if (r > 1) rmrf(o.work.resolve(s"setup${r - 1}"))
      s
    }

    System.gc()
    val rec = if (o.trace) Some(new Recorder) else None
    rec.foreach { r => Recorder.attach(spark, r); recorder = rec }
    val jif0 = cpuJiffies()
    // per pass: wall, process CPU, GC, and (read calls, write calls,
    // bytes written), each taken around the pass alone
    val passS, passCpu, passGc = mutable.ArrayBuffer[Double]()
    val passIo = mutable.ArrayBuffer[(Long, Long, Long)]()
    val windows = mutable.ArrayBuffer[(Long, Long)]()
    val lat = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer[String]()
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = 0
    while (w.another(i, System.nanoTime() < deadline)) {
      val ck = new Checks
      val passLat = mutable.ArrayBuffer[(String, Double)]()
      RssPeak.sample(); RssPeak.on = true
      val io0 = Recorder.fsStats(); val gc0 = Recorder.gcMs()
      val c0 = cpuNs(); val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      val threw = try { w.pass(i, ck, (k, s) => passLat += (k -> s)); None }
        catch { case e: Exception => Some(e) }
      passS += (System.nanoTime() - t0) / 1e9
      passCpu += (cpuNs() - c0) / 1e9
      windows += ((w0, System.currentTimeMillis()))
      passGc += (Recorder.gcMs() - gc0) / 1000.0
      val io1 = Recorder.fsStats()
      passIo += ((io1._1 - io0._1, io1._2 - io0._2, io1._3 - io0._3))
      RssPeak.on = false; RssPeak.sample()
      log(f"pass $i: ${passS.last}%.2f s")
      threw.foreach(e => ck.failures += s"pass threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      if (threw.isEmpty) try w.check(i, ck) catch {
        case e: Exception => ck.failures += s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      attempted += w.opsPerPass
      failed += math.min(ck.failures.size.toLong, w.opsPerPass.toLong)
      failures ++= ck.failures.map(f => s"pass $i: $f")
      if (i > 0) passLat.foreach { case (k, s) => lat.getOrElseUpdate(k, mutable.ArrayBuffer()) += s }
      i += 1
    }
    rec.foreach(r => Recorder.detach(spark, r))
    val envEnd = (loadAvg(), dirtyKb())
    val jif1 = cpuJiffies()
    val stealShare = (jif1._1 - jif0._1).toDouble / math.max(jif1._2 - jif0._2, 1L)
    (w, o.record) match {
      case (r: ReadMix, Some(dir)) => println(s"perfbench: recorded tables=${r.record(dir)}")
      case _ =>
    }

    // a workload with one pass (the nightly ETL day) reports it as both
    // cold and steady
    val steady = if (passS.size > 1) passS.indices.drop(1) else passS.indices
    val passMed = median(steady.map(passS))
    val metrics = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (median(setupS), "s"),
      "pass_s" -> (passMed, "s"),
      "cpu_s" -> (median(steady.map(passCpu)), "s"),
      "peak_rss_mb" -> (RssPeak.mb, "MB"),
      "lake_mb" -> (w.lakeBytes / (1024.0 * 1024.0), "MB"))

    // the workload's own figures: the cold pass, throughput, space
    // amplification, read latency percentiles (each with its sample
    // count). One cold pass per run swings with JIT and host load (a
    // quarter of its median between runs of read_mix), so it has no bound.
    val inRecords = w.ingests.fold(0L)(_.counts.read)
    val inBytes = w.ingests.fold(0L)(_.bronzeBytes)
    val extra = mutable.LinkedHashMap[String, (Double, String)]()
    extra("cold_pass_s") = (passS.head, "s")
    extra("records_per_s") = (if (inRecords > 0) inRecords / passMed else 0.0, "1/s")
    extra("lake_bytes_per_input_byte") =
      (if (inBytes > 0) w.lakeBytes.toDouble / inBytes else 0.0, "ratio")
    for ((k, name) <- Seq("queries" -> "query", "lake" -> "lake_read")) {
      val xs = lat.getOrElse(k, mutable.ArrayBuffer()).toSeq
      val (tp, tv) = tail(xs)
      extra(s"${name}_p50_s") = (if (xs.isEmpty) 0.0 else median(xs), "s")
      extra(s"${name}_tail_s") = (tv, "s")
      extra(s"${name}_tail_pct") = (tp, "%")
      extra(s"${name}_samples") = (xs.size.toDouble, "count")
    }
    extra("error_rate") = (failed.toDouble / math.max(attempted, 1L), "ratio")

    val layer = mutable.LinkedHashMap[String, (Double, String)]()
    rec.foreach { r =>
      val sw = steady.map(windows)
      val s = r.summarize(sw)
      val n = steady.size.toDouble
      val scdRows = s.remove("scd_store.output_rows").getOrElse(0.0)
      s.foreach { case (k, v) =>
        val unit = if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
          else if (k.endsWith("_share")) "ratio" else "count"
        layer(k) = (v, unit)
      }
      // over the same steady passes as the layer figures
      val io = steady.map(passIo)
      layer("fs.read_ops") = (io.map(_._1).sum / n, "count")
      layer("fs.write_ops") = (io.map(_._2).sum / n, "count")
      layer("fs.bytes_written_mb") = (io.map(_._3).sum / n / (1024.0 * 1024.0), "MB")
      layer("jvm.gc_s") = (steady.map(passGc).sum / n, "s")
      val inMb = inBytes / (1024.0 * 1024.0)
      val outMb = Recorder.Layers.map(l => s(s"$l.output_mb")).sum
      layer("written_bytes_per_input_byte") = (if (inMb > 0) outMb / inMb else 0.0, "ratio")
      layer("silver.bronze_read_amp") =
        (if (inMb > 0) s("silver.input_mb") / inMb else 0.0, "ratio")
      layer("scd.rewrite_per_batch_row") =
        (if (inRecords > 0) scdRows / inRecords else 0.0, "ratio")
      layer("queries.plan_share") =
        (if (w.opsPerPass > 1) r.planSeconds(windows.head) / passS.head else 0.0, "ratio")
      extra.foreach { case (k, v) => layer(k) = v }
      o.traceOut.foreach { p =>
        Files.createDirectories(p.toAbsolutePath.getParent)
        Files.write(p, r.toJson.getBytes("UTF-8"))
      }
    }

    // human-readable report: environment stamps, every metric, the checks
    println(s"perfbench: workload=${o.workload} seed=${o.seed} trace=${o.trace} " +
      s"nproc=$Cores passes=${passS.size} load1_start=${num(envStart._1)} " +
      s"load1_end=${num(envEnd._1)} dirty_writeback_kb_start=${envStart._2} " +
      s"dirty_writeback_kb_end=${envEnd._2} cpu_steal_share=${num(stealShare)}")
    println(s"perfbench: setup_runs_s=${setupS.map(num).mkString(",")} " +
      s"pass_s=${passS.map(num).mkString(",")}")
    (metrics ++ extra ++ layer).foreach { case (k, (v, u)) =>
      println(s"perfbench: $k = ${num(v)} $u") }
    failures.take(20).foreach(f => println(s"perfbench: CHECK FAILED $f"))
    println(s"perfbench: checks ${if (failures.isEmpty) "passed" else s"FAILED (${failures.size})"}")

    val shown = if (o.trace) layer else metrics
    val body = shown.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
    spark.stop()
  }
}
