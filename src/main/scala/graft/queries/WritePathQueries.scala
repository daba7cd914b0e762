package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.gold.GoldEtl
import graft.scd.{FlatLayout, Scd2}
import graft.silver.SilverEtl
import graft.store.{PointerCommit, SnapshotStore}

/** Driver-visible gate coverage for the WRITE path (SURVEY §2 S2–S11, P6)
  * — the round-3 verdict's "what's missing" item 1: the sinks were green
  * only via ScalaTest goldens, invisible to CORRECTNESS_r*.json.
  *
  * Each query here builds a deterministic fixture FROM the sf tables
  * (so DuckDB can recompute the expected result from the same parquet),
  * runs the production write path — SCD2 merge (flat and regioned),
  * optimize, pointer-commit time travel + vacuum, dynamic partition
  * overwrite, append+mergeSchema, quarantine/metadata sinks, the full
  * gold ETL — into a FRESH temp dir per invocation, and returns the
  * READ-BACK table. What's gated is therefore the storage machinery
  * end-to-end: partitioned writes, hive read-back typing (partition
  * values come back as strings), merge semantics, the commit protocol.
  *
  * Oracle-parity details: every numeric literal in the oracles is CAST
  * to DOUBLE (a bare 0.9 parses as DECIMAL in DuckDB and its decimal
  * arithmetic diverges from IEEE doubles); transcendental outputs
  * (ln) round to 6 places (the m5 rule); exact IEEE ops (+ - * /) are
  * left unrounded; ORDER BY casts the string key back to BIGINT so both
  * engines sort numerically.
  */
object WritePathQueries {
  type Q = (SparkSession, String) => DataFrame

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** One written streaming fixture dir per (JVM, sfDir) for s6c — the
    * WindowedAggQueries.FixtureDirCache pattern: the arriving data is a
    * deterministic function of the gate tables, so re-runs stream the
    * same files without re-writing them. */
  private val ScdStreamFixtureCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Build-once-per-(JVM, sfDir) INPUT scenarios for gates whose
    * operator under test is a read/probe over a published layout (r17):
    * the publish is the gate's fixture, not the operator — the oracle
    * gates the read result — so re-running it on every timed invocation
    * priced fixture synthesis, not the engine (the s22/s23 scenario
    * caches and the r12-verdict accounting that moved s24-s26's worlds
    * out of the timed runs). Consumers are READ-ONLY over the scenario;
    * gates that mutate their table (s22's delete) keep their own
    * mutate-once cache, and gates where the write IS the operator
    * (s11's dynamic overwrite, the merge gates) stay fully timed. */
  private val roScenarioCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private def roScenario(d: String, tag: String)(build: String => Unit): String =
    roScenarioCache.getOrElseUpdate((d, tag), {
      val root = tmp(s"graft_gate_$tag")
      build(root)
      root
    })

  /** sb1's bucketed catalog tables, one pair per (JVM, sfDir) — the
    * tables are immutable once written and the catalog outlives the
    * query in a shared session, so reuse is sound. */
  private val Sb1TableCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** The two-version CDF scenario s12 and s13 both probe (identical
    * publishes — one shared build, the roScenario discipline): v1 =
    * day 1, v2 = every-13th key deleted + reinserted shifted, every
    * (7th ∧ not-13th) renamed. Consumers only ever read pinned
    * versions. */
  private def runCdfScenario(s: SparkSession, d: String): String =
    roScenario(d, "cdf") { root =>
      val parts = Seq("spider_name", "ingestion_year", "ingestion_month")
      val day1 = scdDay1(s, d)
      PointerCommit.publish(day1, root, parts)
      val ck = col("universal_id").cast("long")
      val survived = day1.filter(ck % 13 =!= 0)
        .withColumn("project_name",
          when(ck % 7 === 0, concat(col("project_name"), lit(" v2")))
            .otherwise(col("project_name")))
      val inserts = day1.filter(ck % 13 === 0)
        .withColumn("universal_id", (ck + 3000000).cast("string"))
        .withColumn("project_name", concat(lit("NEW "), col("project_name")))
      PointerCommit.publish(survived.unionByName(inserts), root, parts)
    }

  private val ScdCols = Seq("universal_id", "project_name", "address",
    "is_current", "valid_from", "valid_to", "spider_name",
    "ingestion_year", "ingestion_month")

  /** Day-1 SCD2 batch: every customer becomes a current row. */
  private def scdDay1(s: SparkSession, d: String): DataFrame = {
    val ck = col("c_custkey")
    customer(s, d).select(
      ck.cast("string").as("universal_id"),
      col("c_name").as("project_name"),
      col("c_mktsegment").as("address"),
      lit(true).as("is_current"),
      lit("2025-01-15").as("valid_from"),
      lit(null).cast("string").as("valid_to"),
      concat(lit("sp"), (ck % 3).cast("string")).as("spider_name"),
      lit("2025").as("ingestion_year"),
      lit("01").as("ingestion_month"))
  }

  /** Day-2 batch: every 7th key renamed (→ close-out + new version),
    * every 13th key re-appears under a shifted id (→ brand-new row). */
  private def scdDay2(s: SparkSession, d: String): DataFrame = {
    val ck = col("c_custkey")
    val c = customer(s, d)
    val upd = c.filter(ck % 7 === 0).select(
      ck.cast("string").as("universal_id"),
      concat(col("c_name"), lit(" v2")).as("project_name"),
      col("c_mktsegment").as("address"),
      lit(true).as("is_current"),
      lit("2025-01-16").as("valid_from"),
      lit(null).cast("string").as("valid_to"),
      concat(lit("sp"), (ck % 3).cast("string")).as("spider_name"),
      lit("2025").as("ingestion_year"),
      lit("01").as("ingestion_month"))
    val fresh = c.filter(ck % 13 === 0).select(
      (ck + 3000000).cast("string").as("universal_id"),
      concat(lit("NEW "), col("c_name")).as("project_name"),
      col("c_mktsegment").as("address"),
      lit(true).as("is_current"),
      lit("2025-01-16").as("valid_from"),
      lit(null).cast("string").as("valid_to"),
      concat(lit("sp"), (ck % 3).cast("string")).as("spider_name"),
      lit("2025").as("ingestion_year"),
      lit("01").as("ingestion_month"))
    upd.unionByName(fresh)
  }

  /** Run the 2-day flat merge once per (JVM, sfDir); s2/s6/s7/s7b share
    * the result (the VectorQueries build-once pattern). Sharing is sound
    * because every consumer's gated invariant is CONTENT equality and
    * the optimize passes preserve content exactly — s7/s7b may rewrite
    * the shared table's layout in place and later readers still see the
    * same logical rows (if an optimize ever broke that, every sharer's
    * oracle would fail loudly, which is the right failure mode).
    *
    * ASSUMES SEQUENTIAL GATE EXECUTION (which Verify/Bench provide: one
    * query at a time in one JVM). s7/s7b republish the shared table as
    * a new snapshot, so under a runner that executed gate queries
    * CONCURRENTLY the s2/s6 physical layout (file counts, timings —
    * never content) would depend on whether an optimize ran first. A
    * parallel runner must give s7/s7b their own copy of the cached table
    * instead. */
  private val flatScenarioCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def runFlatScenario(s: SparkSession, d: String): String =
    flatScenarioCache.getOrElseUpdate(d, {
      val root = tmp("graft_gate_scd2")
      Scd2.merge(s, scdDay1(s, d), root, asOfDate = lit("2025-01-15"))
      Scd2.merge(s, scdDay2(s, d), root, asOfDate = lit("2025-01-16"))
      root
    })

  /** Run the gold ETL on the silver fixture once per (JVM, sfDir);
    * s5 (values) and p6 (schema contract) share the published table —
    * same sharing rationale and sequential-execution assumption as
    * [[runFlatScenario]]; nothing here rewrites the table after
    * publish, so the read-back is identical for both consumers. */
  private def runGoldScenario(s: SparkSession, d: String): String = {
    // cross-JVM world cache: s5 and p6 only READ the published gold
    // table, so the full-ETL world qualifies for WorldCache (the flat
    // SCD2 scenario below does NOT — s7/s7b republish it in place)
    val world = graft.fixtures.WorldCache.dir("s5_gold", d,
        WritePathQueries.getClass) { base =>
      val silverDir = s"$base/silver"
      PointerCommit.publish(silverFixture(s, d), silverDir, Nil)
      GoldEtl.run(s, silverDir, s"$base/gold",
        clock = to_timestamp(lit("2025-01-15 12:00:00")))
    }
    s"$world/gold"
  }

  private def orderedScd(df: DataFrame): DataFrame =
    df.select(ScdCols.map(col): _*)
      .orderBy(col("universal_id").cast("long"), col("is_current"))

  /** Deterministic complete-enough silver table for the gold ETL: prices
    * always present (imputation must be a no-op), coordinates missing on
    * every 5th key (tier demotion + geocode-miss path — the districts
    * are deliberately absent from the centroid dim). */
  /** Minimal SCD-shaped silver fixture for the INCREMENTAL gold path
    * (s26): current rows spread over 12 ingestion months so the gold
    * table partitions by month and a quarter range read has something
    * to skip. Column set is the conformToSilverSchema-minimal shape
    * the incremental-gold scaling runs used (BASELINE.md, "Incremental
    * gold scaling", round 8); derived from `customer` so
    * the oracle replays counts from the same table. */
  private def goldIncFixture(s: SparkSession, d: String): DataFrame = {
    val ck = col("c_custkey")
    val mm = (ck % 12 + 1).cast("int")
    val base = customer(s, d).select(
      ck.cast("string").as("universal_id"),
      lit("Hanoi").as("city"),
      concat(lit("Zone "), (ck % 12).cast("string")).as("district"),
      (lit(100.0) + (ck % 900).cast("double")).as("avg_unit_price"),
      ((lit(100.0) + (ck % 900).cast("double")) * 80).as("avg_selling_price"),
      lit(80.0).as("total_area"),
      lit(true).as("is_current"),
      lit("2025-01-10").as("valid_from"),
      lit(null).cast("string").as("valid_to"),
      concat(lit("2025-"), lpad(mm.cast("string"), 2, "0"), lit("-15"))
        .as("ingestion_date"),
      lit("2025").as("ingestion_year"),
      lpad(mm.cast("string"), 2, "0").as("ingestion_month"))
    graft.schema.Mappings.AmenityPatterns.foldLeft(base) {
      case (df, (c, _)) => df.withColumn(c, lit(false))
    }
  }

  /** Day-N churn for s26: fresh ids, ALL in ingestion month 01, stamped
    * `validFrom` so runIncremental's affected-group detection picks
    * exactly (2025, 1). */
  private def goldIncChurn(s: SparkSession, d: String, tag: String,
                           validFrom: String): DataFrame = {
    val ck = col("c_custkey")
    val base = customer(s, d).filter(ck % 50 === 0).select(
      concat(lit(s"$tag-"), ck.cast("string")).as("universal_id"),
      lit("Hanoi").as("city"),
      concat(lit("Zone "), (ck % 12).cast("string")).as("district"),
      (lit(100.0) + (ck % 900).cast("double")).as("avg_unit_price"),
      ((lit(100.0) + (ck % 900).cast("double")) * 80).as("avg_selling_price"),
      lit(80.0).as("total_area"),
      lit(true).as("is_current"),
      lit(validFrom).as("valid_from"),
      lit(null).cast("string").as("valid_to"),
      lit("2025-01-15").as("ingestion_date"),
      lit("2025").as("ingestion_year"),
      lit("01").as("ingestion_month"))
    graft.schema.Mappings.AmenityPatterns.foldLeft(base) {
      case (df, (c, _)) => df.withColumn(c, lit(false))
    }
  }

  private def silverFixture(s: SparkSession, d: String): DataFrame = {
    val ck = col("c_custkey")
    customer(s, d).select(
      ck.cast("string").as("universal_id"),
      concat(lit("src"), ck.cast("string")).as("source_id"),
      concat(lit("sp"), (ck % 3).cast("string")).as("spider_name"),
      col("c_name").as("project_name"),
      when(ck % 3 === 0, "Hanoi").when(ck % 3 === 1, "Ho Chi Minh")
        .otherwise("Da Nang").as("city"),
      // "Zone N", not "District N": HCMC's real districts ARE named
      // "District 1..10" and live in the centroid dim — a name collision
      // would geocode the planted missing-coord rows
      concat(lit("Zone "), (ck % 12).cast("string")).as("district"),
      concat(lit("Ward "), (ck % 20).cast("string")).as("ward"),
      when(ck % 5 === 0, lit(null).cast("double"))
        .otherwise(lit(10.0) + (ck % 80).cast("double") * 0.1).as("latitude"),
      when(ck % 5 === 0, lit(null).cast("double"))
        .otherwise(lit(105.0) + (ck % 40).cast("double") * 0.1).as("longitude"),
      (lit(4.0e7) + (ck % 100).cast("double") * 1.0e5).as("avg_unit_price"),
      (lit(50.0) + (ck % 200).cast("double")).as("total_area"),
      (lit(10) + ck % 50).cast("int").as("total_property"),
      (lit(5) + ck % 30).cast("int").as("number_of_floors"),
      (lit(1) + ck % 2).cast("int").as("min_bedroom"),
      (lit(3) + ck % 2).cast("int").as("max_bedroom"),
      (ck % 2 === 0).as("has_swimming_pool"),
      (ck % 3 === 0).as("has_gym"),
      (ck % 5 === 0).as("has_parking"),
      lit(false).as("has_garden"),
      lit(true).as("has_security"),
      (ck % 7 === 0).as("has_playground"),
      concat(lit("Dev "), (ck % 10).cast("string")).as("developer_name"),
      lit(null).cast("string").as("investor_name"),
      lit("2025-01-15").as("ingestion_date"),
      lit(true).as("is_current"))
      .withColumn("avg_selling_price", col("avg_unit_price") * col("total_area"))
      .withColumn("min_selling_price", col("avg_selling_price") * 0.9)
      .withColumn("max_selling_price", col("avg_selling_price") * 1.1)
      .withColumn("construction_area", col("total_area") * 0.6)
  }

  val queries: Map[String, Q] = Map(
    // S1: the reference's ENTRY operator — multi-path JSONL scan with
    // schema INFERENCE (silver_etl_script.py:122-152), previously gated
    // only through SilverEtl goldens. The envelope fixture derives from
    // customer (so the oracle recomputes from the same parquet), lands
    // as three per-spider JSONL dirs, and is read back via ONE
    // multi-path spark.read.json with full inference — the driver's
    // schema compare therefore gates the INFERRED types (JSON integers
    // → long, decimals → double, booleans, nested struct fields), not
    // just the values.
    "s1b_jsonl_infer" -> ((s, d) => {
      val root = tmp("graft_gate_jsonl")
      val ck = col("c_custkey")
      val src = customer(s, d).select(
        ck.cast("long").as("id"),
        lit("2025-01-15T08:00:00").as("timestamp"),
        concat(lit("sp"), (ck % 3).cast("string")).as("spider_name"),
        col("c_name").as("project_name"),
        ((ck % 40).cast("double") * lit(0.5)).as("price"),
        (ck % 2 === 0).as("active"),
        struct((ck % 12).cast("long").as("code"),
          concat(lit("D"), (ck % 12).cast("string")).as("name"))
          .as("district"))
      (0 until 3).foreach(i =>
        src.filter(col("spider_name") === s"sp$i")
          .write.mode(SaveMode.Overwrite).json(s"$root/sp$i"))
      val back = s.read.json((0 until 3).map(i => s"$root/sp$i"): _*)
      back.select(col("id"), col("spider_name"), col("project_name"),
        col("price"), col("active"), col("district.code").as("district_code"))
        .orderBy("id")
    }),

    // S1 robustness: PERMISSIVE parse of DIRTY JSONL — the crawler-feed
    // reality the reference's bronze reader faces. Every 7th line is
    // truncated mid-string; the gate pins Spark's corrupt-record
    // contract (data columns null, raw line preserved in
    // _corrupt_record, good lines parse normally). The oracle
    // recomputes both the parsed rows and the exact raw corrupt lines
    // from the same customer fixture.
    "s1c_jsonl_corrupt" -> ((s, d) => {
      val root = tmp("graft_gate_jsonlbad")
      val ck = col("c_custkey")
      customer(s, d).select(
        when(ck % 7 === 0,
          concat(lit("{\"id\":"), ck.cast("string"),
            lit(",\"name\":\"truncated")))
          .otherwise(concat(lit("{\"id\":"), ck.cast("string"),
            lit(",\"name\":\""), col("c_name"), lit("\"}")))
          .as("value"))
        .write.mode(SaveMode.Overwrite).text(root)
      s.read
        .schema("id LONG, name STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(root)
        .select(col("id"), col("name"),
          col("_corrupt_record").isNotNull.as("is_corrupt"),
          col("_corrupt_record").as("corrupt_raw"))
        .orderBy(col("is_corrupt"), col("id"), col("corrupt_raw"))
    }),

    // S3/S4/S6: full SCD2 merge roundtrip through the flat layout —
    // first-load partitioned publish, then close-out + append, read back
    // through the pointer (partition values return as strings).
    "s6_scd2_merge" -> ((s, d) =>
      orderedScd(PointerCommit.read(s, runFlatScenario(s, d)))),

    // S4 in ISOLATION: the first-load partitioned overwrite branch of
    // the merge (reference silver_etl_script.py:956-961 — no existing
    // table → straight partitioned write, every row current). s6 runs
    // this branch too but its oracle gates the 2-day END state; this row
    // gates the day-1 table itself, closing the round-8 "S4 golden-only"
    // gap.
    "s4_first_load" -> ((s, d) => {
      val root = tmp("graft_gate_scd2first")
      Scd2.merge(s, scdDay1(s, d), root, asOfDate = lit("2025-01-15"))
      orderedScd(PointerCommit.read(s, root))
    }),

    // P6: the ML feature-select CONTRACT (gold_ml_etl.py:391-436) as a
    // direct driver-visible gate: run the production gold ETL on the
    // silver fixture and pin the read-back schema — position and name —
    // against a literal oracle. s5_gold_roundtrip gates the VALUES;
    // this row pins the column SET, so a feature a refactor silently
    // drops, renames, or reorders fails CORRECTNESS, not just a golden.
    // (Partition columns quality_tier/year/month read back LAST — hive
    // layout — hence their position at the list's tail.)
    "p6_feature_select" -> ((s, d) => {
      import s.implicits._
      PointerCommit.read(s, runGoldScenario(s, d)).schema.fieldNames.zipWithIndex
        .toSeq.map { case (c, i) => (i + 1, c) }
        .toDF("pos", "col_name").orderBy("pos")
    }),

    // S6 at scale: the SAME scenario through the regioned layout
    // (rewriteable current region + append-only valid_to-partitioned
    // closed region) must produce the identical logical table — one
    // oracle gates both layouts.
    "s6b_scd2_regioned" -> ((s, d) => {
      val root = tmp("graft_gate_scd2r")
      Scd2.mergeRegioned(s, scdDay1(s, d), root, asOfDate = lit("2025-01-15"))
      Scd2.mergeRegioned(s, scdDay2(s, d), root, asOfDate = lit("2025-01-16"))
      orderedScd(Scd2.readRegioned(s, root))
    }),

    // §2.13 streaming → S6: the SAME 2-day scenario streamed through
    // StreamingOps.scd2Sink (foreachBatch → mergeRegioned per epoch,
    // one epoch per day) must land the identical logical table — the
    // batch oracle gates the streaming sink. r17: the fixture is a
    // FILE SOURCE (one day-batch per parquet file, mtimes pinned apart
    // so AvailableNow + maxFilesPerTrigger=1 admits day 1 strictly
    // before day 2 — the st9/st10 arrival-order pattern, and the same
    // MemoryStream→file-source move the st gates made in r13): the old
    // MemoryStream fixture collected both day batches through the
    // driver and re-fed them row by row on EVERY timed run — harness
    // machinery, not the sink under test, and measured as most of this
    // gate's cost (bench first-run 18.9 s / steady 4.6 s vs 2.9 s for
    // s6b's identical two batch merges). The fixture dir is written
    // once per (JVM, sf); each timed run still executes the full
    // 2-epoch streaming lifecycle + both merges against a fresh table
    // root. No data row passes through the driver — the production
    // shape.
    "s6c_scd2_stream_sink" -> ((s, d) => {
      val dir = ScdStreamFixtureCache.getOrElseUpdate(d, {
        val out = java.nio.file.Files
          .createTempDirectory("graft_stgate_s6c").toString + "/src"
        val fs = new org.apache.hadoop.fs.Path(out)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def parts() = {
          val p = new org.apache.hadoop.fs.Path(out)
          if (!fs.exists(p)) Set.empty[org.apache.hadoop.fs.Path]
          else fs.listStatus(p)
            .filter(_.getPath.getName.startsWith("part-"))
            .map(_.getPath).toSet
        }
        val t0 = System.currentTimeMillis()
        Seq(scdDay1(s, d), scdDay2(s, d)).zipWithIndex.foreach {
          case (f, i) =>
            val before = parts()
            f.coalesce(1).write.mode("append").parquet(out)
            (parts() -- before).foreach(p =>
              fs.setTimes(p, t0 - 240000 + i * 60000, -1))
        }
        out
      })
      val base = tmp("graft_gate_scd2strm")
      val root = s"$base/table"
      val src = s.readStream.schema(s.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = graft.streaming.StreamingOps.scd2Sink(src, root,
        s"$base/ckpt",
        asOfOfBatch = (_, id) =>
          lit(if (id == 0L) "2025-01-15" else "2025-01-16"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      orderedScd(Scd2.readRegioned(s, root))
    }),

    // S7 for the REGIONED layout: the day-2 batch lands in two merges
    // on the same as-of date (two close-out file sets accrete in one
    // valid_to partition — the small-files reality of append-only),
    // then compactClosed rewrites that partition to one file. The
    // logical table must be IDENTICAL to the one-shot merge — the same
    // oracle gates content through the compaction rewrite.
    "s6d_scd2_compact" -> ((s, d) => {
      // the 3-merge input scenario is a cached world (r14 verdict #6:
      // this gate re-ran two days of merges per invocation — 4.9 s
      // first-runs pricing fixture construction, not the operator);
      // compaction REWRITES closed bytes, so each run compacts a COPY
      // and the cached world stays immutable
      val world = graft.fixtures.WorldCache.dir("s6d_scd2cmp", d,
          WritePathQueries.getClass) { base =>
        val root = s"$base/scd"
        Scd2.mergeRegioned(s, scdDay1(s, d), root,
          asOfDate = lit("2025-01-15"))
        val d2 = scdDay2(s, d)
        val ck2 = col("universal_id").cast("long")
        Scd2.mergeRegioned(s, d2.filter(ck2 % 2 === 0), root,
          asOfDate = lit("2025-01-16"))
        Scd2.mergeRegioned(s, d2.filter(ck2 % 2 =!= 0), root,
          asOfDate = lit("2025-01-16"))
      }
      val root = tmp("graft_gate_scd2cmp")
      val conf = s.sparkContext.hadoopConfiguration
      val src = new org.apache.hadoop.fs.Path(s"$world/scd")
      val dst = new org.apache.hadoop.fs.Path(root)
      org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src,
        dst.getFileSystem(conf), dst, false, true, conf)
      Scd2.compactClosed(s, root, maxFilesPerPartition = 1)
      orderedScd(Scd2.readRegioned(s, root))
    }),

    // S24: FILE-STATS SKIPPING ON THE PRODUCTION SILVER TABLE — the s14
    // composition lifted onto the SCD2 store: the 2-day regioned
    // scenario runs under PointerCommit, the current region is
    // OPTIMIZEd into a range-clustered layout with its stats sidecar
    // (Scd2.optimizeCurrentWithStats), and a production range scan goes
    // through the sidecar: the file list is cut before Spark lists a
    // footer. `skip_effective` pins that a strict subset of files
    // served; the oracle recomputes the aggregate from the raw logical
    // table, so a wrongly-skipped file is a hash mismatch, not silence.
    "s24_silver_stats_skipping" -> ((s, d) => {
      // 2-day merge world + the optimize cached (r12 verdict #4: this
      // gate re-synthesized its world every run at 4.4 s/invocation);
      // the gate body prices the operator under test — the pruned read
      val world = graft.fixtures.WorldCache.dir("s24_silverstats", d,
          WritePathQueries.getClass) { base =>
        val root = s"$base/scd"
        Scd2.mergeRegioned(s, scdDay1(s, d), root,
          asOfDate = lit("2025-01-15"))
        Scd2.mergeRegioned(s, scdDay2(s, d), root,
          asOfDate = lit("2025-01-16"))
        Scd2.optimizeCurrentWithStats(s, root, sortCol = "universal_id",
          numFiles = 8, statCols = Seq("universal_id"))
      }
      val cur = Scd2.currentRoot(s"$world/scd")
      val (sel, all) = graft.store.FileStats.pruneFiles(
        s, cur, "universal_id", "2", "5")
      graft.store.FileStats.readSelected(s, cur, sel,
          col("universal_id").between("2", "5"))
        .groupBy("spider_name")
        .agg(count(lit(1)).as("n_current"))
        .withColumn("skip_effective",
          lit(sel.nonEmpty && sel.length < all.length))
        .orderBy("spider_name")
    }),

    // S26: GOLD STATS SKIPPING — the s24 composition on the PRODUCTION
    // gold table: a full run publishes gold under PointerCommit, two
    // daily incremental runs land month-01 churn through
    // publishIncrementalManifest (first one bootstraps the sidecar with
    // a full narrow scan, the second maintains it O(churn) — carried
    // partitions' rows copied verbatim, pinned byte-identical by
    // GoldEtlSpec), then a seasonal range read (quarter 2 = months 4-6,
    // untouched by the churn, i.e. served ENTIRELY from carried
    // partitions and carried sidecar rows) goes through
    // FileStats.pruneFiles. `skip_effective` pins a strict file subset;
    // the oracle recomputes the month counts from the fixture.
    "s26_gold_stats_skipping" -> ((s, d) => {
      val world = graft.fixtures.WorldCache.dir("s26_goldstats", d,
          WritePathQueries.getClass) { baseDir =>
        val silverDir = s"$baseDir/silver"; val goldDir = s"$baseDir/gold"
        val parts = Seq("ingestion_year", "ingestion_month")
        val base = goldIncFixture(s, d)
        PointerCommit.publish(base, silverDir, parts)
        GoldEtl.run(s, silverDir, goldDir,
          to_timestamp(lit("2025-01-20 12:00:00")), PointerCommit)
        val churn1 = goldIncChurn(s, d, "new1", "2025-01-21")
        PointerCommit.publish(base.unionByName(churn1), silverDir, parts)
        GoldEtl.runIncremental(s, silverDir, goldDir, "2025-01-21",
          to_timestamp(lit("2025-01-21 12:00:00")), PointerCommit)
        val churn2 = goldIncChurn(s, d, "new2", "2025-01-22")
        PointerCommit.publish(base.unionByName(churn1).unionByName(churn2),
          silverDir, parts)
        GoldEtl.runIncremental(s, silverDir, goldDir, "2025-01-22",
          to_timestamp(lit("2025-01-22 12:00:00")), PointerCommit)
      }
      val goldDir = s"$world/gold"
      val (sel, all) = graft.store.FileStats.pruneFiles(
        s, goldDir, "quarter", 2, 2)
      graft.store.FileStats.readSelected(s, goldDir, sel,
          col("quarter") === 2)
        .groupBy(col("month").cast("int").as("month"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("skip_effective",
          lit(sel.nonEmpty && sel.length < all.length))
        .orderBy("month")
    }),

    // S25: RIGHT-TO-BE-FORGOTTEN ON THE CURATED CORPUS — s22's targeted
    // delete composed with the incremental-curation store: three daily
    // batches land via IncrementalCurate.publishDelta (each publish
    // maintains the O(churn) doc_id bloom sidecar), then two ids from
    // the FIRST batch are forgotten. The bloom locates their batch from
    // the sidecar alone, exactly one of three batch partitions
    // rewrites, the others carry forward by reference with their
    // sidecar rows verbatim — `forget_bounded` pins rewritten < total,
    // and the oracle's NOT IN recomputes the surviving corpus.
    "s25_corpus_forget" -> ((s, d) => {
      // the whole mutating scenario (3 publishes + the forget) runs
      // inside the cached world build — the gate body reads the FINAL
      // store, per the WorldCache immutability convention
      val world = graft.fixtures.WorldCache.dir("s25_forget", d,
          WritePathQueries.getClass) { base =>
        val root = s"$base/store"
        val docs = documents(s, d)
          .withColumn("content_hash", md5(col("text")))
          .withColumn("is_canonical", lit(true))
          .withColumn("split",
            graft.operators.Splits.hashSplit(col("doc_id")))
        val v1 = graft.corpus.IncrementalCurate.publishDelta(
          s, root, docs.filter(col("doc_id") < 200), None)
        val v2 = graft.corpus.IncrementalCurate.publishDelta(
          s, root, docs.filter(col("doc_id") >= 200 && col("doc_id") < 400),
          Some(v1))
        graft.corpus.IncrementalCurate.publishDelta(
          s, root, docs.filter(col("doc_id") >= 400), Some(v2))
        val (_, rewritten, total) = graft.corpus.IncrementalCurate
          .forget(s, root, Seq(7L, 123L))
        graft.fixtures.WorldCache.writeNotes(base,
          Seq(rewritten.toString, total.toString))
      }
      val notes = graft.fixtures.WorldCache.readNotes(world)
      val (rewritten, total) = (notes(0).toInt, notes(1).toInt)
      graft.store.SnapshotStore.read(s, s"$world/store")
        .select(col("doc_id"), col("lang"),
          lit(rewritten >= 1 && rewritten < total).as("forget_bounded"))
        .orderBy("doc_id")
    }),

    // S2: current-snapshot scan over the merged table (gold's read path).
    "s2_current_scan" -> ((s, d) =>
      orderedScd(FlatLayout.readCurrent(s, runFlatScenario(s, d)))),

    // S7: OPTIMIZE-analogue clustering rewrite preserves table content
    // exactly (range-repartition + sort + snapshot republish).
    "s7_optimize_roundtrip" -> ((s, d) => {
      val root = runFlatScenario(s, d)
      Scd2.optimize(s, root, clusterCols = Seq("universal_id", "spider_name"),
        numFiles = 4)
      orderedScd(PointerCommit.read(s, root))
    }),

    // S7 ZORDER: the Morton-curve re-clustering preserves table content
    // exactly (same oracle as the linear optimize); the multi-column
    // pruning win itself is measured in ZOrderSpec.
    "s7b_optimize_zorder" -> ((s, d) => {
      val root = runFlatScenario(s, d)
      Scd2.optimizeZOrder(s, root,
        zCols = Seq(col("universal_id").cast("long"),
          length(col("project_name")).cast("long")),
        numFiles = 4)
      orderedScd(PointerCommit.read(s, root))
    }),

    // S8 + time travel: two pointer-commit publishes, vacuum with a
    // window that must retain both, then a version-pinned read of v1 —
    // exactly what it contained before v2 rewrote every name.
    "s8_time_travel" -> ((s, d) => {
      val root = tmp("graft_gate_tt")
      val parts = Seq("spider_name", "ingestion_year", "ingestion_month")
      PointerCommit.publish(scdDay1(s, d), root, parts)
      PointerCommit.publish(
        scdDay1(s, d)
          .withColumn("project_name", concat(col("project_name"), lit(" v2")))
          .withColumn("valid_from", lit("2025-01-16")),
        root, parts)
      SnapshotStore.vacuum(s, root, keepLast = 2)
      orderedScd(SnapshotStore.readAt(s, root, "v000000001"))
    }),

    // S13: incremental aggregate MAINTENANCE off the change feed — the
    // consumer pattern that makes CDF pay at scale: a per-spider
    // aggregate is maintained as base(v1) + signed delta(feed) instead
    // of recomputed from v2, touching O(churn) rows. The oracle
    // recomputes the v2 aggregate DIRECTLY from the fixture, so any
    // error in the feed classification or the delta math surfaces as a
    // hash mismatch.
    "s13_cdf_incr_agg" -> ((s, d) => {
      val root = runCdfScenario(s, d)
      val baseAgg = SnapshotStore.readAt(s, root, "v000000001")
        .groupBy("spider_name")
        .agg(count(lit(1)).as("n_projects"),
          sum(length(col("project_name")).cast("long")).as("name_chars"))
      val feed = SnapshotStore.changesBetween(s, root,
        "v000000001", "v000000002", keyCols = Seq("universal_id"))
      val sign = when(col("change_type")
        .isin("insert", "update_postimage"), 1L).otherwise(-1L)
      val delta = feed.groupBy("spider_name")
        .agg(sum(sign).as("dn"),
          sum(sign * length(col("project_name")).cast("long")).as("dchars"))
      baseAgg.join(delta, Seq("spider_name"), "full_outer")
        .select(col("spider_name"),
          (coalesce(col("n_projects"), lit(0L)) +
            coalesce(col("dn"), lit(0L))).as("n_projects"),
          (coalesce(col("name_chars"), lit(0L)) +
            coalesce(col("dchars"), lit(0L))).as("name_chars"))
        .filter(col("n_projects") > 0)
        .orderBy("spider_name")
    }),

    // S14: file-level min/max data skipping (store.FileStats — the
    // Delta/Iceberg stats-sidecar pattern): publish orders range-sorted
    // on o_orderkey into 8 files with a per-file stats sidecar inside
    // the snapshot, then answer a narrow key-range aggregate by pruning
    // the FILE LIST off the sidecar before Spark ever lists or opens a
    // footer. The oracle recomputes the aggregate from the raw table, so
    // any file the pruner wrongly drops surfaces as a hash mismatch; the
    // skipping itself — invisible to SQL — is carried as data in
    // `skip_effective` (true iff selected < total files), which the
    // oracle pins to TRUE. FileStatsSpec covers the boundary/empty/
    // straddling cases.
    "s14_stats_skipping" -> ((s, d) => {
      val root = roScenario(d, "skip") { r =>
        graft.store.FileStats.publishSorted(s, r, orders(s, d),
          "o_orderkey", numFiles = 8,
          statCols = Seq("o_orderkey", "o_totalprice"))
      }
      val (sel, all) = graft.store.FileStats.pruneFiles(
        s, root, "o_orderkey", 100L, 299L)
      // readSelected: reuse the prune above instead of paying the
      // sidecar scan twice through readRange
      graft.store.FileStats.readSelected(s, root, sel,
          col("o_orderkey").between(100L, 299L))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types
            .DecimalType(18, 2))).cast("double").as("sum_price"))
        .withColumn("skip_effective", lit(sel.length < all.length))
        .orderBy("o_orderstatus")
    }),

    // S15: bloom-filter file skipping for EQUALITY probes (the parquet/
    // Iceberg bloom pattern, store.FileStats bloomCols): the layout is
    // range-sorted on o_orderkey, so every file's o_custkey [min,max]
    // spans the whole customer domain and min/max skipping is useless —
    // but a per-file bloom answers "could custkey 5 be in this file?"
    // with no false negatives. 32 files and ≤19 matching orders at any
    // sf guarantee a strict subset deterministically (k rows can occupy
    // at most k files; fpp adds at most a sliver). The exact filter
    // after the cut settles bloom maybes, so the oracle's plain
    // equality scan must match row-for-row.
    "s15_bloom_skipping" -> ((s, d) => {
      val root = roScenario(d, "bloom") { r =>
        graft.store.FileStats.publishSorted(s, r, orders(s, d),
          "o_orderkey", numFiles = 32, statCols = Seq("o_orderkey"),
          bloomCols = Seq("o_custkey"))
      }
      val (sel, all) = graft.store.FileStats.pruneFilesEq(
        s, root, "o_custkey", 5L)
      // readSelected: one bloom-probe pass, not two
      graft.store.FileStats.readSelected(s, root, sel,
          col("o_custkey") === 5L)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
        .withColumn("skip_effective", lit(sel.length < all.length))
        .orderBy("o_orderkey")
    }),

    // S16: metadata-partial aggregation off the stats sidecar
    // (FileStats.countRange): a range COUNT answers interior files from
    // their sidecar row counts — zero reads — and scans only the edge
    // files the range boundaries cut through (at most one per edge on a
    // range-clustered layout, however large the table). The range spans
    // 60% of the key domain (the upper bound derives from the table
    // count so the property holds at every sf), which forces both modes:
    // `meta_used` pins that interior files answered from metadata,
    // `scan_bounded` that the scan never degenerated to all files; the
    // count itself must equal DuckDB's plain recount.
    "s16_meta_count" -> ((s, d) => {
      val root = roScenario(d, "metacnt") { r =>
        graft.store.FileStats.publishSorted(s, r, orders(s, d),
          "o_orderkey", numFiles = 8, statCols = Seq("o_orderkey"))
      }
      val hi = 3L * orders(s, d).count() / 5L
      val (n, scanned, meta) = graft.store.FileStats.countRange(
        s, root, "o_orderkey", 100L, hi)
      import s.implicits._
      Seq((n, scanned < 8, meta > 0))
        .toDF("n_rows", "scan_bounded", "meta_used")
    }),

    // S20: metadata-partial SUM — countRange's aggregation pushdown
    // extended to sums (FileStats.sumRange, the answer-from-manifests
    // pattern): the sidecar carries exact per-file DECIMAL sums of
    // o_totalprice, interior files of the range answer from metadata
    // alone, and only the ≤2 boundary files are scanned. Exact decimal
    // arithmetic end-to-end means metadata + edge sums recombine to
    // EXACTLY the direct whole-range sum DuckDB computes; the gate pins
    // both modes engaging (meta_used, scan_bounded) like s16.
    "s20_meta_sum" -> ((s, d) => {
      val root = roScenario(d, "metasum") { r =>
        graft.store.FileStats.publishSorted(s, r, orders(s, d),
          "o_orderkey", numFiles = 8, statCols = Seq("o_orderkey"),
          sumCols = Seq("o_totalprice"))
      }
      val hi = 3L * orders(s, d).count() / 5L
      val (sumPrice, n, scanned, meta) = graft.store.FileStats.sumRange(
        s, root, "o_orderkey", 100L, hi, "o_totalprice")
      import s.implicits._
      Seq((n, sumPrice.doubleValue, scanned < 8, meta > 0))
        .toDF("n_rows", "sum_price", "scan_bounded", "meta_used")
    }),

    // S12: change data feed between two pinned versions — v2 deletes
    // every 13th key, renames every (7th ∧ not-13th) key, and inserts a
    // shifted copy of each deleted key; the feed must classify exactly
    // those rows (insert / update_pre+postimage / delete) and NOTHING
    // for the untouched majority — churn-sized output, the property the
    // oracle recomputes logically from the same customer fixture.
    "s12_change_feed" -> ((s, d) => {
      val root = runCdfScenario(s, d)
      SnapshotStore.changesBetween(s, root, "v000000001", "v000000002",
          keyCols = Seq("universal_id"))
        .select(col("universal_id"), col("project_name"), col("change_type"))
        .orderBy(col("universal_id").cast("long"), col("change_type"))
    }),

    // Bucketed co-located join: both fact sides land bucketed by the
    // join key (operators.Bucketing), then join + aggregate read ONLY
    // the bucketed tables — the storage-side answer to repeated
    // fact-to-fact joins (zero shuffle exchanges, pinned by
    // BucketingSpec; this gate pins that the bucketed path returns the
    // same rows the raw tables do). r17: the bucketed WRITES are the
    // gate's fixture — bucketing a table is a one-time storage decision
    // amortized over repeated joins, which is the entire point of the
    // technique — so they build once per (JVM, sf) with stable catalog
    // names and every timed run prices the shuffle-free join itself.
    "sb1_bucketed_join" -> ((s, d) => {
      val (liT, ordT) = Sb1TableCache.getOrElseUpdate(d, {
        val base = tmp("graft_gate_bucket")
        val tag = java.util.UUID.randomUUID.toString.replace("-", "")
        val lt = s"sb1_li_$tag"; val ot = s"sb1_ord_$tag"
        val li = lineitem(s, d).select("l_orderkey", "l_quantity")
        val ord = orders(s, d)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        graft.operators.Bucketing.writeBucketed(
          li, s"$base/li", lt, Seq("l_orderkey"), 8)
        graft.operators.Bucketing.writeBucketed(
          ord, s"$base/ord", ot, Seq("l_orderkey"), 8)
        (lt, ot)
      })
      s.table(liT).hint("merge").join(s.table(ordT), Seq("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_qty"),
          count(lit(1)).as("n_lines"))
        .orderBy("o_orderpriority")
    }),

    // S11: dynamic partition overwrite — day 2 touches only spider sp1;
    // sp0/sp2 keep day-1 data.
    "s11_dynamic_overwrite" -> ((s, d) => {
      val dir = tmp("graft_gate_dyn")
      val day1 = scdDay1(s, d)
        .select("universal_id", "project_name", "spider_name")
      day1.write.partitionBy("spider_name").parquet(dir)
      val day2 = day1.filter(col("spider_name") === "sp1")
        .withColumn("project_name", concat(col("project_name"), lit(" v2")))
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "dynamic")
      try day2.write.mode(SaveMode.Overwrite).partitionBy("spider_name")
        .parquet(dir)
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
      s.read.parquet(dir)
        .select("universal_id", "project_name", "spider_name")
        .orderBy(col("universal_id").cast("long"))
    }),

    // S3: append + mergeSchema — the second write carries a column the
    // first never had; merged read pads day-1 rows with typed nulls.
    "s3_append_mergeschema" -> ((s, d) => {
      val dir = tmp("graft_gate_append")
      val ck = col("c_custkey")
      customer(s, d)
        .select(ck.cast("string").as("universal_id"),
          col("c_name").as("project_name"))
        .write.parquet(dir)
      customer(s, d).filter(ck % 13 === 0)
        .select((ck + 3000000).cast("string").as("universal_id"),
          concat(lit("NEW "), col("c_name")).as("project_name"),
          ((ck % 10).cast("double") * 0.5).as("extra_score"))
        .write.mode(SaveMode.Append).parquet(dir)
      s.read.option("mergeSchema", "true").parquet(dir)
        .select("universal_id", "project_name", "extra_score")
        .orderBy(col("universal_id").cast("long"))
    }),

    // S9: validation split + quarantine sink (production
    // SilverEtl.validate + writeQuarantine): every 11th key has no
    // project name → quarantined with reason, partitioned by spider.
    "s9_quarantine_sink" -> ((s, d) => {
      val dir = tmp("graft_gate_quar")
      val ck = col("c_custkey")
      val mapped = customer(s, d).select(
        concat(lit("sp"), (ck % 3).cast("string")).as("spider_name"),
        concat(lit("src"), ck.cast("string")).as("source_id"),
        to_timestamp(lit("2025-01-15 08:00:00")).as("ingested_at_utc"),
        when(ck % 11 === 0, lit(null).cast("string"))
          .otherwise(col("c_name")).as("project_name"),
        lit(10.5).as("latitude"), lit(106.5).as("longitude"),
        lit(2.0e9).as("min_selling_price"), lit(3.0e9).as("max_selling_price"),
        lit(null).cast("double").as("min_unit_price"),
        lit(null).cast("double").as("max_unit_price"))
      val (_, invalid) = SilverEtl.validate(mapped)
      SilverEtl.writeQuarantine(invalid, dir,
        to_timestamp(lit("2025-01-15 12:00:00")))
      s.read.parquet(dir)
        .select("spider_name", "source_id", "quarantine_reason")
        .orderBy(col("source_id"))
    }),

    // S10: run-metadata sink (production SilverEtl.writeRunMetadata) —
    // two runs' audit rows appended with counts derived from customer.
    "s10_metadata_sink" -> ((s, d) => {
      val dir = tmp("graft_gate_meta")
      val ck = col("c_custkey")
      def mkStats(df: DataFrame): SilverEtl.EtlStats = {
        val r = df.agg(count(lit(1)),
          sum(when(ck % 11 === 0, 1L).otherwise(0L))).head()
        val (n, inv) = (r.getLong(0), r.getLong(1))
        SilverEtl.EtlStats(n, n - inv, inv, 0L, n - inv, 0.0)
      }
      SilverEtl.writeRunMetadata(s, "run_a", "2025-01-15",
        mkStats(customer(s, d)), dir)
      SilverEtl.writeRunMetadata(s, "run_b", "2025-01-16",
        mkStats(customer(s, d).filter(ck % 2 === 0)), dir)
      s.read.parquet(dir).orderBy("pipeline_run_id")
    }),

    // S5 + P6: the FULL gold ETL (enhance → features → tiers → 60-col
    // select → partitioned publish) on a deterministic silver table,
    // read back from the published gold dir. Hash-encoded columns
    // (district/developer: Murmur3) are excluded from the projection;
    // everything else — targets, log/ratio features, city dim encoding,
    // amenity scores, calendar, quality scores, tiers — is recomputed by
    // the oracle from the same fixture definition.
    "s5_gold_roundtrip" -> ((s, d) => {
      val goldDir = runGoldScenario(s, d)
      PointerCommit.read(s, goldDir).select(
        col("project_id"), col("source_id"), col("spider_name"),
        col("project_name"), col("snapshot_date"),
        col("target_price_per_sqm"), col("target_total_price"),
        col("target_min_price"), col("target_max_price"),
        col("target_price_range"),
        col("city_encoded").cast("int").as("city_encoded"),
        round(col("log_total_area"), 6).as("log_total_area"),
        round(col("log_total_property"), 6).as("log_total_property"),
        round(col("floor_area_ratio"), 6).as("floor_area_ratio"),
        round(col("avg_property_per_floor"), 6).as("avg_property_per_floor"),
        round(col("avg_area_per_unit"), 6).as("avg_area_per_unit"),
        col("avg_bedroom"),
        col("amenity_count").cast("int").as("amenity_count"),
        round(col("amenity_score"), 6).as("amenity_score"),
        col("year").cast("int").as("year"),
        col("quarter").cast("int").as("quarter"),
        col("month").cast("int").as("month"),
        round(col("location_quality_score"), 6).as("location_quality_score"),
        round(col("data_completeness_score"), 6).as("data_completeness_score"),
        col("quality_tier"), col("is_training_ready"),
        col("price_imputed"), col("coordinates_imputed"),
        col("gold_version"))
        .orderBy(col("project_id").cast("long"))
    }),

    // S17: the LSH band index's FULL managed lifecycle through the
    // driver gate — documents committed to a SnapshotStore, the index
    // built snapshot-keyed (ensureForSnapshot), the corpus grown by a
    // store commit and the index advanced with the caller's batch
    // (O(batch) delta generation, snapshot re-keyed) — then today's
    // ingest (doc_id ≥ 400) probed against the CHAINED index. Output is
    // the dd13 recall frame over the same id split, so the oracle (the
    // identical exact-shingle SQL) proves the advance path loses no
    // candidate the from-scratch index would have found.
    "s17_lsh_index_advance" -> ((s, d) => {
      import graft.operators.{LshBandIndex, MinHashLSH}
      val docs = graft.Tables.documents(s, d)
      val gen = runLshIndexScenario(s, d)
      val batchBands = MinHashLSH.bandRows(docs.filter(col("doc_id") >= 400))
      val cands = MinHashLSH.incrementalPairs(batchBands,
          LshBandIndex.narrowBandsOf(s, gen), LshBandIndex.sigsOf(s, gen))
        .select(col("src").as("doc_a"), col("dst").as("doc_b"))
      DedupExtQueries.batchRecallFrame(docs, cands)
    }),

    // S27: the EMBEDDING sign-RP key index's managed lifecycle through
    // the driver gate — the s17 shape for vectors: the original
    // embedding corpus committed to a SnapshotStore in two tranches
    // (evens, then the odds as a caller-asserted count-verified batch),
    // the index built snapshot-keyed and advanced as an O(batch) delta
    // generation — then the planted near-duplicate batch (vec_id ≥
    // 2^40) probed against the CHAINED index. Output and oracle are
    // dd16's verbatim: the advance path must find exactly the pairs a
    // from-scratch index would.
    "s27_emb_index_advance" -> ((s, d) => {
      import graft.operators.CosineLshIndex
      graft.functions.CosineSimilarity.register(s)
      val corpus = DedupExtQueries.plantedCorpus(s, d)
      val gen = runEmbIndexScenario(s, d)
      val batch = corpus.filter(col("vec_id") >= DedupExtQueries.CopyIdOffset)
      CosineLshIndex.incrementalPairs(batch, "vec_id", "emb",
          CosineLshIndex.narrowKeysOf(s, gen),
          CosineLshIndex.vecsOf(s, gen))
        .filter(col("cs") >= 0.95)
        .select(col("src").as("keep_id"), col("dst").as("dup_id"),
          round(col("cs"), 6).as("cos_sim"))
        .orderBy("keep_id", "dup_id")
    }),

    // S18: the INVERTED text index's managed lifecycle through the
    // driver gate — history (doc_id < 300) committed to a SnapshotStore
    // and indexed snapshot-keyed, the corpus grown to the FULL
    // documents table by a second commit and the index advanced with
    // the caller's batch (O(batch) postings delta, snapshot re-keyed) —
    // then BM25-probed across the CHAINED base + delta. Output and
    // oracle are tx15_bm25's verbatim: the advance path must score the
    // whole corpus exactly as a from-scratch tokenize would.
    "s18_text_index_advance" -> ((s, d) => {
      val gen = runTextIndexScenario(s, d)
      graft.operators.TextIndex.bm25(s, gen,
        Seq("spark", "vector", "merge"), k = 10)
    }),

    // S19: the incremental-curation composite's PUBLISH path — after
    // corpus.IncrementalCurate's two-day scenario (history curated +
    // indexed on day 1; day 2's change-feed batch curated against the
    // index, delta-published via a fenced commit, index advanced
    // count-verified) the CURATED STORE's live snapshot must serve the
    // sequential-curation truth: history curated alone ∪ the batch
    // curated against it. The oracle replays both cp1 chains (suffixed
    // CTEs) and unions them — gating commit, manifest read-back, and
    // the delta publish end-to-end, not just the in-memory frame cp6
    // checks.
    "s19_incremental_curate_publish" -> ((s, d) => {
      val (curRoot, _) = graft.corpus.IncrementalCurate.scenario(s, d)
      graft.store.SnapshotStore.read(s, curRoot)
        .filter(col("is_canonical"))
        .select("doc_id", "split").orderBy("doc_id")
    }),

    // S23: TIME TRAVEL × DATA SKIPPING — every publish writes its
    // sidecar beside its version dir before the pointer flip, so stats
    // time-travel for free: a range read AT yesterday's snapshot prunes
    // against yesterday's intervals and reads yesterday's files. The
    // gate range [250, 349] straddles v1's edge (docs < 300): the
    // output MUST be 250..299 — a current-version read would return
    // 250..349 and hash-mismatch, so the oracle proves the historical
    // sidecar (not just the historical data) actually served.
    "s23_travel_skipping" -> ((s, d) => {
      val (root, v1) = runTravelSkipScenario(s, d)
      val (sel, all) = graft.store.FileStats
        .pruneFilesAt(s, root, v1, "doc_id", 250L, 349L)
      graft.store.FileStats
        .readSelected(s, root, sel, col("doc_id").between(250L, 349L))
        .select(col("doc_id"), col("lang"),
          lit(sel.nonEmpty && sel.length < all.length).as("skip_effective"))
        .orderBy("doc_id")
    }),

    // S21: the COUNT-MIN sketch sidecar's managed lifecycle through the
    // driver gate — history (doc_id < 300) committed to a SnapshotStore
    // and sketched snapshot-keyed, the corpus grown to the FULL
    // documents table by a second commit and the sketch advanced with
    // the caller's batch: a DELTA cell grid chained by LINEARITY
    // (cells(corpus ⊎ batch) = cells(corpus) + cells(batch) exactly —
    // the cheapest advance in the artifact family: no retraining, no id
    // bookkeeping, no posting merge). The probe estimates the corpus's
    // exact top-10 tokens across the chain; output and oracle are
    // a22_countmin's VERBATIM — the chained sketch must estimate
    // exactly like a from-scratch batch build.
    // S22: TARGETED DELETE — right-to-be-forgotten through the driver
    // gate: documents published hive-partitioned (doc_id % 8 buckets)
    // with a bloom sidecar on doc_id; three ids deleted via
    // FileStats.deleteKeys, which probes the SIDECAR (never the data)
    // to locate the partitions that can contain a target, rewrites only
    // those, and carries every other partition forward BY REFERENCE in
    // the manifest with its sidecar rows copied verbatim — write
    // amplification O(affected partitions). Output: the surviving table
    // + `delete_bounded` pinning that strictly fewer partitions were
    // rewritten than exist (the no-false-negative bloom makes the
    // rewrite set sound; its boundedness is what this gate is FOR).
    "s22_targeted_delete" -> ((s, d) => {
      val (root, rewritten, total) = runDeleteScenario(s, d)
      val bounded = rewritten > 0 && rewritten < total
      graft.store.SnapshotStore.read(s, root)
        .select(col("doc_id"), col("lang"),
          lit(bounded).as("delete_bounded"))
        .orderBy("doc_id")
    }),

    "s21_sketch_advance" -> ((s, d) => {
      val gen = runSketchScenario(s, d)
      val toks = graft.Tables.documents(s, d)
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      val exactTop = toks.groupBy("token")
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("token"))
        .limit(10)
      val est = graft.operators.SketchSidecar
        .estimates(s, gen, exactTop.select("token"), "token")
      exactTop.join(broadcast(est), Seq("token"))
        .select(col("token"), col("n_exact"), col("est"),
          (col("est") >= col("n_exact")).as("never_under"))
        .orderBy(col("n_exact").desc, col("token"))
    })
  )

  /** Build the travel-skipping scenario once per (JVM, sfDir): v1 =
    * docs < 300 range-sorted into 4 stat'ed files, v2 = the full table
    * into 8 — s23 then reads AT v1. Returns (root, v1 name). */
  private val travelSkipScenarioCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private def runTravelSkipScenario(s: SparkSession, d: String): (String, String) =
    travelSkipScenarioCache.getOrElseUpdate(d, {
      import graft.store.FileStats
      val root = tmp("graft_gate_travelskip")
      val docs = graft.Tables.documents(s, d).select("doc_id", "lang")
      val v1 = FileStats.publishSorted(s, root,
        docs.filter(col("doc_id") < 300), "doc_id", numFiles = 4,
        statCols = Seq("doc_id"))
      FileStats.publishSorted(s, root, docs, "doc_id", numFiles = 8,
        statCols = Seq("doc_id"))
      (root, v1)
    })

  /** Build the targeted-delete scenario once per (JVM, sfDir):
    * documents published partitioned on pb = doc_id % 8 with a doc_id
    * bloom sidecar, then doc_ids {7, 19, 123} deleted. Returns
    * (store root, partitions rewritten, partitions total). */
  private val deleteScenarioCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Int, Int)]
  private def runDeleteScenario(s: SparkSession, d: String): (String, Int, Int) =
    deleteScenarioCache.getOrElseUpdate(d, {
      import graft.store.FileStats
      val root = tmp("graft_gate_delete")
      val docs = graft.Tables.documents(s, d)
        .withColumn("pb", (col("doc_id") % 8).cast("int"))
      FileStats.publishPartitioned(s, root, docs, pcol = "pb",
        statCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
      val (_, rewritten, total) = FileStats.deleteKeys(s, root, "doc_id",
        keys = Seq(7L, 19L, 123L), pcol = "pb",
        statCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
      (root, rewritten, total)
    })

  /** Build the snapshot-keyed SKETCH scenario once per (JVM, sfDir):
    * history (doc_id < 300) committed + sketched, growth to the full
    * documents table committed and the sketch advanced with that batch —
    * returns the advanced generation (a cell-grid delta CHAINED to the
    * base; s21 probes the summed chain). */
  private val sketchScenarioCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def runSketchScenario(s: SparkSession, d: String): String =
    sketchScenarioCache.getOrElseUpdate(d, {
      import graft.operators.SketchSidecar
      // the STORE lives in a cached fixture world (the s24/cp6 pattern):
      // the advance lifecycle runs once per (build, sf) inside the
      // world's build; every later JVM revalidates the snapshot-keyed
      // index with a pointer+meta read — these scenario warmups were
      // ~40 s of every Bench/Verify JVM before. If the tmp-rooted index
      // artifacts are cleaned out from under a cached world, the ensure
      // rebuilds from the store — correct, just uncached once.
      val world = graft.fixtures.WorldCache.dir("s21_sketch_scenario", d,
          getClass) { w =>
        val root = s"$w/store"
        val docs = graft.Tables.documents(s, d)
        SnapshotStore.commit(s, root)(dir =>
          docs.filter(col("doc_id") < 300).write.parquet(dir))
        val g1 = SketchSidecar.ensureForSnapshot(s, root)
        SnapshotStore.commit(s, root)(dir => docs.write.parquet(dir))
        val g2 = SketchSidecar.advanceForSnapshotWithBatch(s, root,
          docs.filter(col("doc_id") >= 300))
        require(g2 != g1, "advance must publish a new generation")
        ()
      }
      SketchSidecar.ensureForSnapshot(s, s"$world/store")
    })

  /** Build the snapshot-keyed TEXT index scenario once per (JVM, sfDir):
    * history (doc_id < 300) committed + indexed, growth to the full
    * documents table committed and the index advanced with that batch —
    * returns the advanced generation (a postings delta CHAINED to the
    * base; s18 probes both). Cached like the other gate scenarios. */
  private val textIndexScenarioCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def runTextIndexScenario(s: SparkSession, d: String): String =
    textIndexScenarioCache.getOrElseUpdate(d, {
      import graft.operators.TextIndex
      // cached-world store + pointer-read revalidation (see
      // runSketchScenario's rationale)
      val world = graft.fixtures.WorldCache.dir("s18_textidx_scenario", d,
          getClass) { w =>
        val root = s"$w/store"
        val docs = graft.Tables.documents(s, d)
        SnapshotStore.commit(s, root)(dir =>
          docs.filter(col("doc_id") < 300).write.parquet(dir))
        val g1 = TextIndex.ensureForSnapshot(s, root)
        val snap2 = SnapshotStore.commit(s, root)(dir =>
          docs.write.parquet(dir))
        val g2 = TextIndex.advanceWithBatch(s, s"store:$root",
          docs.filter(col("doc_id") >= 300), snap = Some(snap2))
        require(g2 != g1, "advance must publish a new generation")
        ()
      }
      TextIndex.ensureForSnapshot(s, s"$world/store")
    })

  /** Build the snapshot-keyed EMBEDDING index scenario once per
    * (JVM, sfDir): the original vectors committed as evens, grown by
    * the odds (count-verified caller-asserted batch → O(batch) delta
    * generation), returning the advanced generation (s27 probes the
    * chain). */
  private val embIndexScenarioCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def runEmbIndexScenario(s: SparkSession, d: String): String =
    embIndexScenarioCache.getOrElseUpdate(d, {
      import graft.operators.CosineLshIndex
      // cached-world store + pointer-read revalidation (see
      // runSketchScenario's rationale)
      val world = graft.fixtures.WorldCache.dir("s27_embidx_scenario", d,
          getClass, DedupExtQueries.getClass) { w =>
        val root = s"$w/store"
        val originals = DedupExtQueries.plantedCorpus(s, d)
          .filter(col("vec_id") < DedupExtQueries.CopyIdOffset)
        SnapshotStore.commit(s, root)(dir =>
          originals.filter(col("vec_id") % 2 === 0).write.parquet(dir))
        val g1 = CosineLshIndex.ensureForSnapshot(s, root)
        SnapshotStore.commit(s, root)(dir => originals.write.parquet(dir))
        val g2 = CosineLshIndex.advanceForSnapshotWithBatch(s, root,
          originals.filter(col("vec_id") % 2 =!= 0))
        require(g2 != g1, "advance must publish a new generation")
        ()
      }
      CosineLshIndex.ensureForSnapshot(s, s"$world/store")
    })

  /** Build the snapshot-keyed LSH index scenario once per (JVM, sfDir):
    * history (doc_id < 300) committed + indexed, then growth to
    * doc_id < 400 committed and the index advanced with that batch —
    * returns the advanced generation path (a delta CHAINED to the base:
    * the probe in s17 reads base + delta). Cached like the other gate
    * scenarios (sequential execution assumption documented at
    * [[runFlatScenario]]). */
  private val lshIndexScenarioCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def runLshIndexScenario(s: SparkSession, d: String): String =
    lshIndexScenarioCache.getOrElseUpdate(d, {
      import graft.operators.LshBandIndex
      // cached-world store + pointer-read revalidation (see
      // runSketchScenario's rationale)
      val world = graft.fixtures.WorldCache.dir("s17_lshidx_scenario", d,
          getClass) { w =>
        val root = s"$w/store"
        val docs = graft.Tables.documents(s, d)
        SnapshotStore.commit(s, root)(dir =>
          docs.filter(col("doc_id") < 300).write.parquet(dir))
        val g1 = LshBandIndex.ensureForSnapshot(s, root)
        val snap2 = SnapshotStore.commit(s, root)(dir =>
          docs.filter(col("doc_id") < 400).write.parquet(dir))
        val g2 = LshBandIndex.advanceWithBatch(s, s"store:$root",
          docs.filter(col("doc_id") >= 300 && col("doc_id") < 400),
          snap = Some(snap2))
        require(g2 != g1, "advance must publish a new generation")
        ()
      }
      LshBandIndex.ensureForSnapshot(s, s"$world/store")
    })

  /** Shared expected-SCD2-table CTE: what the 2-day merge must produce. */
  private val ScdOracleCte: String =
    """WITH cust AS (
      |  SELECT c_custkey AS ck, c_name, c_mktsegment,
      |         'sp' || CAST(c_custkey % 3 AS VARCHAR) AS spider_name
      |  FROM customer),
      |full_scd AS (
      |  SELECT CAST(ck AS VARCHAR) AS universal_id, c_name AS project_name,
      |         c_mktsegment AS address, TRUE AS is_current,
      |         '2025-01-15' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
      |         spider_name, '2025' AS ingestion_year, '01' AS ingestion_month
      |  FROM cust WHERE ck % 7 <> 0
      |  UNION ALL
      |  SELECT CAST(ck AS VARCHAR), c_name, c_mktsegment, FALSE,
      |         '2025-01-15', '2025-01-16', spider_name, '2025', '01'
      |  FROM cust WHERE ck % 7 = 0
      |  UNION ALL
      |  SELECT CAST(ck AS VARCHAR), c_name || ' v2', c_mktsegment, TRUE,
      |         '2025-01-16', NULL, spider_name, '2025', '01'
      |  FROM cust WHERE ck % 7 = 0
      |  UNION ALL
      |  SELECT CAST(ck + 3000000 AS VARCHAR), 'NEW ' || c_name, c_mktsegment,
      |         TRUE, '2025-01-16', NULL, spider_name, '2025', '01'
      |  FROM cust WHERE ck % 13 = 0)
      |""".stripMargin

  private val ScdOracleSelect: String =
    """SELECT universal_id, project_name, address, is_current, valid_from,
      |       valid_to, spider_name, ingestion_year, ingestion_month
      |FROM full_scd
      |ORDER BY CAST(universal_id AS BIGINT), is_current""".stripMargin

  val oracle: Map[String, String] = Map(
    // dd13's oracle BY REFERENCE: same id split (history < 400 ≤
    // batch), same exact-shingle truth — only the candidate
    // construction differs (store-committed, snapshot-keyed,
    // advance-chained index); one copy means the two gates can never
    // silently diverge
    "s17_lsh_index_advance" ->
      DedupExtQueries.oracle("dd13_incremental_neardup"),
    // tx15's BM25 oracle BY REFERENCE: the advance-built chained index
    // must score the full corpus exactly like a direct tokenize
    "s18_text_index_advance" -> TextQueries.Bm25OracleSql,
    // a22's oracle BY REFERENCE: the advance-chained sketch must
    // estimate exactly like the from-scratch batch build (linearity)
    "s21_sketch_advance" -> AnalyticQueries.oracle("a22_countmin"),
    // dd16's exhaustive-cosine oracle VERBATIM: the snapshot-keyed
    // advance-built chain must find exactly the from-scratch pairs
    "s27_emb_index_advance" ->
      DedupExtQueries.oracle("dd16_incremental_embed_neardup"),
    "s22_targeted_delete" ->
      """SELECT doc_id, lang, TRUE AS delete_bounded
        |FROM documents WHERE doc_id NOT IN (7, 19, 123)
        |ORDER BY doc_id""".stripMargin,
    "s25_corpus_forget" ->
      """SELECT doc_id, lang, TRUE AS forget_bounded
        |FROM documents WHERE doc_id NOT IN (7, 123)
        |ORDER BY doc_id""".stripMargin,
    // 250..299 ONLY — the current version holds 250..349 in range, so a
    // read that failed to time-travel hash-mismatches
    "s23_travel_skipping" ->
      """SELECT doc_id, lang, TRUE AS skip_effective
        |FROM documents
        |WHERE doc_id BETWEEN 250 AND 349 AND doc_id < 300
        |ORDER BY doc_id""".stripMargin,
    // sequential-curation truth: the cp1 chain over HISTORY ALONE
    // (doc_id < 400 — yesterday's decisions are final) unioned with the
    // cp1 chain over the full corpus restricted to batch rows (cp6's
    // identity). Two suffixed copies of the chain coexist in one
    // WITH RECURSIVE.
    "s19_incremental_curate_publish" ->
      s"""WITH RECURSIVE ${SamplingQueries.curateChainSql("h", "doc_id < 400")},
         |${SamplingQueries.curateChainSql("u", "TRUE")}
         |SELECT doc_id, split FROM (
         |${SamplingQueries.curateSelectSql("h", "TRUE")}
         |UNION ALL
         |${SamplingQueries.curateSelectSql("u", "e.doc_id >= 400")}
         |)
         |ORDER BY doc_id""".stripMargin,
    "s4_first_load" ->
      """WITH cust AS (
        |  SELECT c_custkey AS ck, c_name, c_mktsegment,
        |         'sp' || CAST(c_custkey % 3 AS VARCHAR) AS spider_name
        |  FROM customer)
        |SELECT CAST(ck AS VARCHAR) AS universal_id, c_name AS project_name,
        |       c_mktsegment AS address, TRUE AS is_current,
        |       '2025-01-15' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
        |       spider_name, '2025' AS ingestion_year, '01' AS ingestion_month
        |FROM cust
        |ORDER BY CAST(universal_id AS BIGINT), is_current""".stripMargin,
    // the literal 63-column contract: 60 selected features + the two
    // audit columns, with the three write-partition columns read back
    // last (hive layout)
    "p6_feature_select" -> {
      val cols = Seq(
        "project_id", "source_id", "spider_name", "snapshot_date",
        "project_name", "project_type", "status",
        "target_price_per_sqm", "target_total_price",
        "target_min_price", "target_max_price", "target_price_range",
        "latitude", "longitude", "city", "district", "ward",
        "city_encoded", "district_encoded", "location_quality_score",
        "total_area", "log_total_area", "construction_area",
        "total_property", "log_total_property",
        "number_of_blocks", "number_of_floors", "total_floor",
        "number_of_basement", "number_of_elevators",
        "construction_density", "green_density", "floor_area_ratio",
        "avg_property_per_floor", "avg_area_per_unit",
        "min_bedroom", "max_bedroom", "avg_bedroom",
        "developer_name", "investor_name", "developer_encoded",
        "has_swimming_pool", "has_gym", "has_parking",
        "has_garden", "has_security", "has_playground",
        "amenity_count", "amenity_score",
        "quality_indexes", "trans_grade", "infra_grade", "school_grade",
        "quarter", "data_completeness_score", "is_training_ready",
        "price_imputed", "coordinates_imputed",
        "gold_processed_at", "gold_version",
        "quality_tier", "year", "month")
      cols.zipWithIndex
        .map { case (c, i) => s"(${i + 1}, '$c')" }
        .mkString("SELECT * FROM (VALUES ", ", ",
          ") t(pos, col_name) ORDER BY pos")
    },
    "s1b_jsonl_infer" ->
      """SELECT CAST(c_custkey AS BIGINT) AS id,
        |  'sp' || CAST(c_custkey % 3 AS VARCHAR) AS spider_name,
        |  c_name AS project_name,
        |  CAST(c_custkey % 40 AS DOUBLE) * CAST(0.5 AS DOUBLE) AS price,
        |  (c_custkey % 2 = 0) AS active,
        |  CAST(c_custkey % 12 AS BIGINT) AS district_code
        |FROM customer ORDER BY id""".stripMargin,
    // quarter-2 gold rows by month: the gold pipeline keeps one row per
    // current silver row and derives month from ingestion_date, which
    // the fixture pins to (c_custkey % 12) + 1; churn lands only in
    // month 01, so months 4-6 replay straight off `customer`.
    // skip_effective pinned TRUE (strict file subset via the sidecar).
    "s26_gold_stats_skipping" ->
      """SELECT CAST((c_custkey % 12) + 1 AS INTEGER) AS month,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows, TRUE AS skip_effective
        |FROM customer
        |WHERE (c_custkey % 12) + 1 BETWEEN 4 AND 6
        |GROUP BY 1 ORDER BY month""".stripMargin,
    // current rows of the day-2 logical table in the (string) id range,
    // lexicographic BETWEEN in both engines; skip_effective pinned TRUE
    "s24_silver_stats_skipping" -> (ScdOracleCte +
      """SELECT spider_name, CAST(COUNT(*) AS BIGINT) AS n_current,
        |  TRUE AS skip_effective
        |FROM full_scd
        |WHERE is_current AND universal_id BETWEEN '2' AND '5'
        |GROUP BY spider_name ORDER BY spider_name""".stripMargin),
    "s6_scd2_merge" -> (ScdOracleCte + ScdOracleSelect),
    "s6b_scd2_regioned" -> (ScdOracleCte + ScdOracleSelect),
    "s6c_scd2_stream_sink" -> (ScdOracleCte + ScdOracleSelect),
    "s6d_scd2_compact" -> (ScdOracleCte + ScdOracleSelect),
    "s1c_jsonl_corrupt" ->
      """SELECT
        |  CASE WHEN c_custkey % 7 = 0 THEN NULL
        |       ELSE CAST(c_custkey AS BIGINT) END AS id,
        |  CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END AS name,
        |  (c_custkey % 7 = 0) AS is_corrupt,
        |  CASE WHEN c_custkey % 7 = 0
        |       THEN '{"id":' || CAST(c_custkey AS VARCHAR) || ',"name":"truncated'
        |       ELSE NULL END AS corrupt_raw
        |FROM customer
        |ORDER BY is_corrupt, id, corrupt_raw""".stripMargin,
    "s13_cdf_incr_agg" ->
      """WITH v2 AS (
        |  SELECT 'sp' || CAST(c_custkey % 3 AS VARCHAR) AS spider_name,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_name || ' v2' ELSE c_name END
        |      AS project_name
        |  FROM customer WHERE c_custkey % 13 <> 0
        |  UNION ALL
        |  SELECT 'sp' || CAST(c_custkey % 3 AS VARCHAR), 'NEW ' || c_name
        |  FROM customer WHERE c_custkey % 13 = 0)
        |SELECT spider_name, COUNT(*) AS n_projects,
        |  CAST(SUM(len(project_name)) AS BIGINT) AS name_chars
        |FROM v2 GROUP BY spider_name ORDER BY spider_name""".stripMargin,
    "s2_current_scan" -> (ScdOracleCte +
      """SELECT universal_id, project_name, address, is_current, valid_from,
        |       valid_to, spider_name, ingestion_year, ingestion_month
        |FROM full_scd WHERE is_current
        |ORDER BY CAST(universal_id AS BIGINT), is_current""".stripMargin),
    "s7_optimize_roundtrip" -> (ScdOracleCte + ScdOracleSelect),
    "s7b_optimize_zorder" -> (ScdOracleCte + ScdOracleSelect),
    "s8_time_travel" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS universal_id,
        |       c_name AS project_name, c_mktsegment AS address,
        |       TRUE AS is_current, '2025-01-15' AS valid_from,
        |       CAST(NULL AS VARCHAR) AS valid_to,
        |       'sp' || CAST(c_custkey % 3 AS VARCHAR) AS spider_name,
        |       '2025' AS ingestion_year, '01' AS ingestion_month
        |FROM customer
        |ORDER BY CAST(universal_id AS BIGINT), is_current""".stripMargin,
    "s14_stats_skipping" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  TRUE AS skip_effective
        |FROM orders
        |WHERE o_orderkey BETWEEN 100 AND 299
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "s16_meta_count" ->
      """SELECT COUNT(*) AS n_rows, TRUE AS scan_bounded, TRUE AS meta_used
        |FROM orders
        |WHERE o_orderkey BETWEEN 100 AND
        |  (3 * (SELECT COUNT(*) FROM orders)) // 5""".stripMargin,
    "s20_meta_sum" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
        |    AS sum_price,
        |  TRUE AS scan_bounded, TRUE AS meta_used
        |FROM orders
        |WHERE o_orderkey BETWEEN 100 AND
        |  (3 * (SELECT COUNT(*) FROM orders)) // 5""".stripMargin,
    "s15_bloom_skipping" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, TRUE AS skip_effective
        |FROM orders
        |WHERE o_custkey = 5
        |ORDER BY o_orderkey""".stripMargin,
    "sb1_bucketed_join" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "s12_change_feed" ->
      """WITH base AS (SELECT c_custkey AS ck, c_name FROM customer),
        |changes AS (
        |  SELECT CAST(ck + 3000000 AS VARCHAR) AS universal_id,
        |         'NEW ' || c_name AS project_name, 'insert' AS change_type
        |  FROM base WHERE ck % 13 = 0
        |  UNION ALL
        |  SELECT CAST(ck AS VARCHAR), c_name || ' v2', 'update_postimage'
        |  FROM base WHERE ck % 7 = 0 AND ck % 13 <> 0
        |  UNION ALL
        |  SELECT CAST(ck AS VARCHAR), c_name, 'update_preimage'
        |  FROM base WHERE ck % 7 = 0 AND ck % 13 <> 0
        |  UNION ALL
        |  SELECT CAST(ck AS VARCHAR), c_name, 'delete'
        |  FROM base WHERE ck % 13 = 0)
        |SELECT universal_id, project_name, change_type FROM changes
        |ORDER BY CAST(universal_id AS BIGINT), change_type""".stripMargin,
    "s11_dynamic_overwrite" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS universal_id,
        |       CASE WHEN c_custkey % 3 = 1 THEN c_name || ' v2'
        |            ELSE c_name END AS project_name,
        |       'sp' || CAST(c_custkey % 3 AS VARCHAR) AS spider_name
        |FROM customer
        |ORDER BY CAST(universal_id AS BIGINT)""".stripMargin,
    "s3_append_mergeschema" ->
      """SELECT * FROM (
        |  SELECT CAST(c_custkey AS VARCHAR) AS universal_id,
        |         c_name AS project_name, CAST(NULL AS DOUBLE) AS extra_score
        |  FROM customer
        |  UNION ALL
        |  SELECT CAST(c_custkey + 3000000 AS VARCHAR), 'NEW ' || c_name,
        |         CAST(c_custkey % 10 AS DOUBLE) * CAST(0.5 AS DOUBLE)
        |  FROM customer WHERE c_custkey % 13 = 0) t
        |ORDER BY CAST(universal_id AS BIGINT)""".stripMargin,
    "s9_quarantine_sink" ->
      """SELECT 'sp' || CAST(c_custkey % 3 AS VARCHAR) AS spider_name,
        |       'src' || CAST(c_custkey AS VARCHAR) AS source_id,
        |       'Failed validation rules' AS quarantine_reason
        |FROM customer WHERE c_custkey % 11 = 0
        |ORDER BY source_id""".stripMargin,
    "s10_metadata_sink" ->
      """WITH a AS (
        |  SELECT COUNT(*) AS n,
        |         CAST(SUM(CASE WHEN c_custkey % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS inv
        |  FROM customer),
        |b AS (
        |  SELECT COUNT(*) AS n,
        |         CAST(SUM(CASE WHEN c_custkey % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS inv
        |  FROM customer WHERE c_custkey % 2 = 0)
        |SELECT 'run_a' AS pipeline_run_id, '2025-01-15' AS execution_date,
        |       'bronze' AS source_layer, 'silver' AS target_layer,
        |       'chotot_api,meeyproject_api,onehousing_api' AS spiders,
        |       n AS records_read, n - inv AS records_valid,
        |       inv AS records_invalid, n - inv AS records_written,
        |       CAST(0 AS BIGINT) AS duplicates_removed,
        |       CAST(0.0 AS DOUBLE) AS avg_completeness_score,
        |       'SUCCESS' AS status
        |FROM a
        |UNION ALL
        |SELECT 'run_b', '2025-01-16', 'bronze', 'silver',
        |       'chotot_api,meeyproject_api,onehousing_api',
        |       n, n - inv, inv, n - inv, CAST(0 AS BIGINT),
        |       CAST(0.0 AS DOUBLE), 'SUCCESS'
        |FROM b
        |ORDER BY pipeline_run_id""".stripMargin,
    "s5_gold_roundtrip" ->
      """WITH f AS (
        |  SELECT c_custkey AS ck, c_name,
        |    CAST(4.0e7 AS DOUBLE) + CAST(c_custkey % 100 AS DOUBLE) * CAST(1.0e5 AS DOUBLE) AS unit_price,
        |    CAST(50.0 AS DOUBLE) + CAST(c_custkey % 200 AS DOUBLE) AS area,
        |    CAST(10 + c_custkey % 50 AS INTEGER) AS tot_prop,
        |    CAST(5 + c_custkey % 30 AS INTEGER) AS floors,
        |    CAST(1 + c_custkey % 2 AS INTEGER) AS minbed,
        |    CAST(3 + c_custkey % 2 AS INTEGER) AS maxbed,
        |    (c_custkey % 5 <> 0) AS has_coords,
        |    CAST(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END +
        |         CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END +
        |         CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END +
        |         1 +
        |         CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END AS INTEGER) AS am_count
        |  FROM customer),
        |g AS (
        |  SELECT ck, c_name, unit_price, area, unit_price * area AS sell_price,
        |         has_coords, am_count, tot_prop, floors, minbed, maxbed
        |  FROM f)
        |SELECT
        |  CAST(ck AS VARCHAR) AS project_id,
        |  'src' || CAST(ck AS VARCHAR) AS source_id,
        |  'sp' || CAST(ck % 3 AS VARCHAR) AS spider_name,
        |  c_name AS project_name,
        |  '2025-01-15' AS snapshot_date,
        |  unit_price AS target_price_per_sqm,
        |  sell_price AS target_total_price,
        |  sell_price * CAST(0.9 AS DOUBLE) AS target_min_price,
        |  sell_price * CAST(1.1 AS DOUBLE) AS target_max_price,
        |  sell_price * CAST(1.1 AS DOUBLE) - sell_price * CAST(0.9 AS DOUBLE) AS target_price_range,
        |  CAST(ck % 3 + 1 AS INTEGER) AS city_encoded,
        |  ROUND(LN(area), 6) AS log_total_area,
        |  ROUND(LN(tot_prop), 6) AS log_total_property,
        |  ROUND(area * CAST(0.6 AS DOUBLE) / area, 6) AS floor_area_ratio,
        |  ROUND(CAST(tot_prop AS DOUBLE) / floors, 6) AS avg_property_per_floor,
        |  ROUND(area / tot_prop, 6) AS avg_area_per_unit,
        |  CAST(minbed + maxbed AS DOUBLE) / 2 AS avg_bedroom,
        |  am_count AS amenity_count,
        |  ROUND(CAST(am_count AS DOUBLE) / CAST(6.0 AS DOUBLE), 6) AS amenity_score,
        |  2025 AS year, 1 AS quarter, 1 AS month,
        |  ROUND(CASE WHEN has_coords THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
        |        + CAST(0.3 AS DOUBLE) + CAST(0.3 AS DOUBLE), 6) AS location_quality_score,
        |  ROUND((1 + CASE WHEN has_coords THEN 1 ELSE 0 END + 1 + 1 + 1 + 1)
        |        / CAST(6.0 AS DOUBLE), 6) AS data_completeness_score,
        |  CASE WHEN has_coords THEN 'high' ELSE 'medium' END AS quality_tier,
        |  has_coords AS is_training_ready,
        |  FALSE AS price_imputed,
        |  NOT has_coords AS coordinates_imputed,
        |  '1.0' AS gold_version
        |FROM g ORDER BY ck""".stripMargin
  )
}
