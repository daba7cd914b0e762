package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.fixtures.BronzeFixtures
import graft.silver.SilverEtl
import graft.scd.{RegionedLayout, Scd2}
import graft.store.PointerCommit

/** Golden run of the 10-stage silver pipeline over the synthetic bronze
  * fixtures (FIXTURES.md §B), asserting the reference's observable
  * contract: per-step counts, standardization/enrichment outputs, SCD2
  * behavior across two runs. */
class SilverEtlSpec extends SparkSuite {

  private lazy val base = {
    val dir = Files.createTempDirectory("graft_silver_spec").toString
    graft.fixtures.BronzeFixtures.write(dir)
    dir
  }
  private lazy val cfg = SilverEtl.RunConfig(
    silverPath = s"$base/silver", quarantinePath = s"$base/quarantine",
    metadataPath = s"$base/metadata", runId = "test_run",
    startDate = "2025-01-15")
  private lazy val fixedClock = to_timestamp(lit("2025-01-15 12:00:00"))

  private lazy val stats = {
    val bronze = SilverEtl.readBronze(spark, s"$base/bronze", "2025-01-15")
    SilverEtl.run(spark, bronze, cfg, fixedClock)
  }
  private lazy val silver = PointerCommit.read(spark, cfg.silverPath)

  test("per-step counts match the fixture design") {
    assert(stats.recordsRead === graft.fixtures.BronzeFixtures.TotalRecords)
    assert(stats.recordsInvalid === graft.fixtures.BronzeFixtures.InvalidRecords)
    assert(stats.recordsValid ===
      graft.fixtures.BronzeFixtures.TotalRecords - graft.fixtures.BronzeFixtures.InvalidRecords)
    assert(stats.duplicatesRemoved === graft.fixtures.BronzeFixtures.DuplicatePairs)
    // outlier removed: valid - dups - 1 outlier
    assert(stats.recordsWritten ===
      stats.recordsValid - stats.duplicatesRemoved - 1)
  }

  test("keep-latest dedup kept the newer duplicate") {
    val dup = silver.filter(col("source_id") === "ch_dup").collect()
    assert(dup.length === 1)
    assert(dup.head.getAs[String]("project_name") === "New Name")
  }

  test("4-sigma outlier was removed") {
    assert(silver.filter(col("source_id") === "ch_outlier").count() === 0)
  }

  test("city names standardized to English") {
    val cities = silver.select("city").distinct().collect()
      .map(_.getString(0)).toSet
    assert(cities.contains("Ho Chi Minh City"))
    assert(cities.contains("Hanoi"))
    assert(!cities.contains("Hồ Chí Minh"))
  }

  test("HTML cleaned and entities decoded in description") {
    val desc = silver.filter(col("source_id") === "ch_1")
      .select("description").head.getString(0)
    assert(!desc.contains("<"))
    assert(!desc.contains("&amp;"))
    assert(desc.contains("&"))
    assert(desc.contains("bể bơi"))
  }

  test("chotot geo string split into coordinates") {
    val r = silver.filter(col("source_id") === "ch_1")
      .select("latitude", "longitude").head
    assert(r.getDouble(0) === 10.771)
    assert(r.getDouble(1) === 106.701)
  }

  test("meeyproject GeoJSON [lon, lat] order respected") {
    val r = silver.filter(col("source_id") === "me_1")
      .select("latitude", "longitude").head
    assert(r.getDouble(0) === 21.031) // lat is element 2
    assert(r.getDouble(1) === 105.791)
  }

  test("onehousing hectares converted to m²") {
    val area = silver.filter(col("source_id") === "oh_1")
      .select("total_area").head.getDouble(0)
    assert(area === 5000.0)
  }

  test("dual-format handover_date_from both land as yyyy-MM-dd strings") {
    val d1 = silver.filter(col("source_id") === "oh_1")
      .select("handover_date_from").head.getString(0)
    val d2 = silver.filter(col("source_id") === "oh_2")
      .select("handover_date_from").head.getString(0)
    assert(d1 === "2022-04-01")
    assert(d2 === "2022-04-01")
  }

  test("insight_by_bedroom → apartment_prices struct array + bedroom range") {
    val r = silver.filter(col("source_id") === "oh_1")
      .select("min_bedroom", "max_bedroom", "apartment_prices").head
    assert(r.getInt(0) === 1)
    assert(r.getInt(1) === 3)
    assert(r.getSeq[Any](2).length === 3)
  }

  test("albums flattened to image urls; first-of-array ints extracted") {
    val r = silver.filter(col("source_id") === "oh_1")
      .select("images", "number_of_basement", "number_of_elevators").head
    assert(r.getSeq[String](0) ===
      Seq("http://oh/a1.jpg", "http://oh/a2.jpg", "http://oh/b1.jpg"))
    assert(r.getInt(1) === 2)
    assert(r.getInt(2) === 6)
  }

  test("meey translation fields and nested extractions") {
    val r = silver.filter(col("source_id") === "me_1")
      .select("ward", "district", "city", "investor_name",
        "utilities_internal", "project_type", "images").head
    // Reference-faithful quirk: the unified bronze read infers ONE schema
    // across all spiders; onehousing's ward/district/city are plain
    // strings, so meey's conflicting structs widen to StringType and
    // arrive as raw JSON text — which the reference's complex-type guard
    // then skips (transformation_utils.py:721-726). The JSON passes
    // through verbatim.
    assert(r.getString(0).contains("Dịch Vọng") && r.getString(0).contains("translation"))
    assert(r.getString(1).contains("Cầu Giấy"))
    assert(r.getString(2).contains("Hà Nội"))
    assert(r.getString(3) === "Tập đoàn 1")
    assert(r.getSeq[String](4) === Seq("Hồ bơi", "Gym"))
    assert(r.getSeq[String](6) ===
      Seq("http://meey/img1.jpg", "http://meey/img1b.jpg"))
  }

  test("amenity flags extracted from descriptions") {
    val ch = silver.filter(col("source_id") === "ch_1")
      .select("has_swimming_pool", "has_gym").head
    assert(ch.getBoolean(0) && ch.getBoolean(1))
    val oh = silver.filter(col("source_id") === "oh_2")
      .select("has_security", "has_playground").head
    assert(oh.getBoolean(0) && oh.getBoolean(1))
  }

  test("universal_id is the sha2 of spider_name_record_key") {
    val r = silver.filter(col("source_id") === "ch_1")
      .select("universal_id").head.getString(0)
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("chotot_api_ch_1".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r === expected)
  }

  test("audit/date fields are yyyy-MM-dd strings; is_current true") {
    val r = silver.filter(col("source_id") === "ch_1")
      .select("ingested_at_utc", "silver_processed_at", "valid_from",
        "is_current", "ingestion_year", "ingestion_month").head
    assert(r.getString(0) === "2025-01-15")
    assert(r.getString(1) === "2025-01-15")
    assert(r.getString(2) === "2025-01-15")
    assert(r.getBoolean(3))
    assert(r.getString(4) === "2025" && r.getString(5) === "01")
  }

  test("completeness scores in [0,1]; avg score recorded") {
    val bad = silver.filter(col("data_completeness_score") < 0 ||
      col("data_completeness_score") > 1).count()
    assert(bad === 0)
    assert(stats.avgCompletenessScore > 0 && stats.avgCompletenessScore <= 1)
  }

  test("persisted silver schema has no internal witness columns") {
    stats // force the run
    // _has_valid_coords/_has_valid_price are run-internal quality
    // accounting from validate(); they must not leak past the declared
    // silver schema into the table.
    assert(!silver.columns.exists(_.startsWith("_")),
      s"internal columns leaked: ${silver.columns.filter(_.startsWith("_")).mkString(",")}")
    // every written column is either a declared silver-schema field or a
    // documented enrichment output that gold consumes downstream
    val declared = graft.schema.Schemas.Silver.fields.map(_.name).toSet ++
      Set("avg_selling_price", "avg_unit_price", "price_range", "area_range",
        "location_quality_score") ++
      graft.schema.Mappings.AmenityPatterns.map(_._1)
    val undeclared = silver.columns.filterNot(declared.contains)
    assert(undeclared.isEmpty, s"undeclared columns: ${undeclared.mkString(",")}")
  }

  test("quarantine holds the invalid record with reason") {
    val q = spark.read.parquet(cfg.quarantinePath)
    assert(q.count() === 1)
    val r = q.head
    assert(r.getAs[String]("source_id") === "ch_invalid")
    assert(r.getAs[String]("quarantine_reason") === "Failed validation rules")
  }

  test("metadata sink records the run stats") {
    val m = spark.read.parquet(cfg.metadataPath)
      .filter(col("pipeline_run_id") === "test_run")
    assert(m.count() === 1)
    assert(m.head.getAs[Long]("records_read") === graft.fixtures.BronzeFixtures.TotalRecords)
  }

  test("SCD2 second run closes out changed rows, keeps invariant") {
    stats // ensure first run completed
    val silverBefore = PointerCommit.read(spark, cfg.silverPath)
    val changed = silverBefore.filter(col("source_id") === "ch_1")
      .withColumn("project_name", lit("Renamed Project"))
    val day2 = to_date(to_timestamp(lit("2025-01-16 12:00:00"))).cast("string")
    Scd2.merge(spark, changed, cfg.silverPath, asOfDate = day2)
    val after = PointerCommit.read(spark, cfg.silverPath)
    val versions = after.filter(col("source_id") === "ch_1")
      .orderBy(col("is_current")).collect()
    assert(versions.length === 2)
    val (closed, current) = (versions(0), versions(1))
    assert(!closed.getAs[Boolean]("is_current"))
    assert(closed.getAs[String]("valid_to") === "2025-01-16")
    assert(current.getAs[Boolean]("is_current"))
    assert(current.getAs[String]("project_name") === "Renamed Project")
    assert(Scd2.violations(after) === 0)
    // re-merging identical data must not duplicate current rows.
    // (re-read: the merge published a new snapshot)
    val changed2 = PointerCommit.read(spark, cfg.silverPath)
      .filter(col("source_id") === "ch_1" && col("is_current") === true)
    Scd2.merge(spark, changed2, cfg.silverPath, asOfDate = day2)
    assert(Scd2.violations(PointerCommit.read(spark, cfg.silverPath)) === 0)
  }

  test("empty day no-ops: missing spider dirs dropped, zero-record day returns zero stats") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_day").toString
    graft.fixtures.BronzeFixtures.write(dir)
    // a date with no files at all → empty frame, run() returns zeros
    val empty = SilverEtl.readBronze(spark, s"$dir/bronze", "2099-12-31")
    assert(empty.count() === 0)
    val cfg = SilverEtl.RunConfig(s"$dir/out/silver", s"$dir/out/quarantine",
      s"$dir/out/metadata", "run_empty", "2099-12-31")
    val stats = SilverEtl.run(spark, empty, cfg)
    assert(stats === SilverEtl.EtlStats(0, 0, 0, 0, 0, 0.0))
    // gold on a never-created silver path no-ops too
    val gold = graft.gold.GoldEtl.run(spark, s"$dir/out/silver", s"$dir/out/gold")
    assert(gold.isEmpty)
  }

  test("a present-but-zero-length jsonl file is treated as an empty day") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zero_len").toString
    for (sp <- Seq("chotot_api", "meeyproject_api", "onehousing_api")) {
      val d = java.nio.file.Paths.get(dir, "bronze", sp, "year=2025", "month=02")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("20250201_080000.jsonl"), Array.emptyByteArray)
    }
    val empty = SilverEtl.readBronze(spark, s"$dir/bronze", "2025-02-01")
    assert(empty.count() === 0)
  }

  test("optimize compacts and clusters without changing the data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_optimize").toString
    graft.fixtures.BronzeFixtures.write(dir)
    val cfg = SilverEtl.RunConfig(s"$dir/silver", s"$dir/q", s"$dir/m",
      "opt_run", "2025-01-15")
    val bronze = SilverEtl.readBronze(spark, s"$dir/bronze", "2025-01-15")
    SilverEtl.run(spark, bronze, cfg, to_timestamp(lit("2025-01-15 12:00:00")))
    def snapshot() = {
      val df = PointerCommit.read(spark, s"$dir/silver")
      df.select(df.columns.sorted.map(col): _*)
        .orderBy("universal_id").collect().map(_.toString).toSeq
    }
    val before = snapshot()
    val written = graft.scd.Scd2.optimize(spark, s"$dir/silver")
    assert(written === before.length)
    // content-level equality, not just row counts
    assert(snapshot() === before)
    assert(graft.scd.Scd2.violations(PointerCommit.read(spark, s"$dir/silver")) === 0)
  }

  // ------------------------------------------------- pinned outputs
  // Values recorded before the silver stages became single projections
  // over one bronze parse; any drift in mapping, column order, dedup
  // tie-break, outlier filter or counts changes them.

  /** (rows, order-insensitive content hash) of a frame, columns in frame
    * order; top-level doubles rounded so summation order cannot show. */
  private def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`"), 6)
        case _ => col(s"`${f.name}`")
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(shiftright(col("h"), 16)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def schemaOf(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  private def writeDay(bronze: String, spider: String, date: String,
                       lines: Seq[String]): Unit = {
    val dir = Paths.get(bronze, spider, s"year=${date.take(4)}", s"month=${date.slice(5, 7)}")
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"${date.replace("-", "")}_080000.jsonl"),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  private def clockOf(date: String): Column = to_timestamp(lit(s"$date 12:00:00"))

  /** A regioned pointer-commit lake under `root`, as the nightly job
    * keeps it; `day` runs one bronze day into it, clocked at noon. */
  private final case class Lake(root: String) {
    val cfg: SilverEtl.RunConfig = SilverEtl.RunConfig(s"$root/silver",
      s"$root/quarantine", s"$root/metadata", "pin_run", "")
    def day(bronze: String, date: String): SilverEtl.EtlStats =
      SilverEtl.run(spark, SilverEtl.readBronze(spark, bronze, date),
        cfg.copy(runId = s"pin_$date", startDate = date), clockOf(date), layout = RegionedLayout)
    def current: DataFrame = Scd2.readRegionedCurrent(spark, cfg.silverPath)
    def closed: DataFrame = Scd2.readRegioned(spark, cfg.silverPath)
      .filter(col("is_current") === false)
    def quarantine: DataFrame = spark.read.parquet(cfg.quarantinePath)
    def metadata: DataFrame = spark.read.parquet(cfg.metadataPath)
  }

  /** Day two of the fixture lake: every chotot record again (ch_1
    * renamed, one new key), onehousing with oh_2 re-addressed, and three
    * of the meey records, all re-crawled the next morning. */
  private def writeSecondDay(bronze: String): Unit = {
    def nextDay(l: String) = l.replace("2025-01-15T", "2025-01-16T")
      .replace("run_20250115", "run_20250116")
    writeDay(bronze, "chotot_api", "2025-01-16",
      BronzeFixtures.chototLines.map(nextDay).map(
        _.replace("\"Chung cư Sài Gòn 1\"", "\"Chung cư Sài Gòn Một\"")) :+
        nextDay(BronzeFixtures.chototLines(1)).replace("\"ch_2\"", "\"ch_new\""))
    writeDay(bronze, "onehousing_api", "2025-01-16",
      BronzeFixtures.onehousingLines.map(nextDay).map(
        _.replace("\"99 Cầu Giấy\"", "\"101 Cầu Giấy\"")))
    writeDay(bronze, "meeyproject_api", "2025-01-16",
      BronzeFixtures.meeyLines.take(3).map(nextDay))
  }

  test("silver, SCD2 regions, quarantine and metadata match the recorded outputs") {
    val dir = Files.createTempDirectory("graft_silver_pin").toString
    val bronze = BronzeFixtures.write(dir)
    writeSecondDay(bronze)
    val lake = Lake(s"$dir/lake")
    val got = Seq(lake.day(bronze, "2025-01-15"), lake.day(bronze, "2025-01-16"),
      schemaOf(lake.current), digest(lake.current), digest(lake.closed),
      digest(lake.quarantine), digest(lake.metadata)).map(_.toString)
    assert(got === Seq(
      "EtlStats(39,38,1,1,36,0.963888888888889)",
      "EtlStats(35,34,1,1,39,0.9812500000000001)",
      DaySchema, "(37,247627387982742)", "(2,32930178335855)",
      "(2,-66055977358769)", "(2,-840284564423)"))
  }

  test("thin day: onehousing only") {
    val dir = Files.createTempDirectory("graft_silver_thin_oh").toString
    val bronze = s"$dir/bronze"
    writeDay(bronze, "onehousing_api", "2025-02-01",
      BronzeFixtures.onehousingLines.map(_.replace("2025-01-15T", "2025-02-01T")))
    val lake = Lake(s"$dir/lake")
    val got = Seq(lake.day(bronze, "2025-02-01"), schemaOf(lake.current),
      digest(lake.current)).map(_.toString)
    assert(got === Seq("EtlStats(3,3,0,0,3,0.9)", OnehousingOnlySchema,
      "(3,253031087332415)"))
  }

  test("thin day: a chotot file with no geo and no price fields") {
    val dir = Files.createTempDirectory("graft_silver_thin_ch").toString
    val bronze = s"$dir/bronze"
    writeDay(bronze, "chotot_api", "2025-02-02", (1 to 4).map(i =>
      s"""{"timestamp":"2025-02-02T07:00:00","spider_name":"chotot_api","project_oid":"bare_$i","project_name":"Dự án $i","type_name":"apartment","area_name":"Quận $i","region_name":"Hà Nội","introduction":"<p>giới thiệu $i</p>"}"""))
    val lake = Lake(s"$dir/lake")
    val got = Seq(lake.day(bronze, "2025-02-02"), schemaOf(lake.current),
      digest(lake.current)).map(_.toString)
    assert(got === Seq("EtlStats(4,4,0,0,4,0.4)", BareChototSchema,
      "(4,-74648916632460)"))
  }

  // silver table schemas (name:type, in column order) of the pinned days
  private val DaySchema =
    """source_id:string, project_name:string, project_type:string,
      |status:string, description:string, address:string,
      |full_address:string, street_name:string, ward:string,
      |district:string, city:string, province:string, latitude:double,
      |longitude:double, total_area:double, area_unit:string,
      |construction_area:double, total_property:int, unit_total:string,
      |min_prop_per_floor:int, max_prop_per_floor:int,
      |min_selling_price:double, max_selling_price:double,
      |min_unit_price:double, max_unit_price:double, price_unit:string,
      |investor_id:string, investor_name:string, developer_name:string,
      |handover_date_from:string, construction_start_date:string,
      |facilities:array<string>, quality_indexes:array<string>,
      |trans_grade:string, infra_grade:string, school_grade:string,
      |images:array<string>, videos:array<string>, web_url:string,
      |number_of_blocks:int, total_floor:int, construction_density:double,
      |utilities_internal:array<string>, number_of_floors:int,
      |number_of_basement:int, number_of_elevators:int,
      |green_density:double, swimming_pool_density:string, min_bedroom:int,
      |max_bedroom:int,
      |apartment_prices:array<struct<number_of_bedroom:int,
      |min_price:double, max_price:double, min_area:double,
      |max_area:double>>, master_plan_url:string, ingested_at_utc:string,
      |universal_id:string, segment:string, min_bathroom:int,
      |max_bathroom:int, min_area:double, max_area:double,
      |min_rent_price:double, max_rent_price:double, handover_date:string,
      |construction_end_date:string, release_year:string,
      |utilities_external:array<string>, record_key:string,
      |data_completeness_score:double, silver_processed_at:string,
      |silver_version:string, is_current:boolean, valid_from:string,
      |valid_to:string, ingestion_date:date, avg_selling_price:double,
      |avg_unit_price:double, price_range:double, area_range:double,
      |location_quality_score:double, has_swimming_pool:boolean,
      |has_gym:boolean, has_parking:boolean, has_garden:boolean,
      |has_security:boolean, has_playground:boolean, spider_name:string,
      |ingestion_year:string, ingestion_month:string""".stripMargin.replace("\n", " ").replace(" ", "")
  private val OnehousingOnlySchema =
    """project_type:string, status:string, description:string,
      |address:string, ward:string, district:string, city:string,
      |province:string, total_area:double, area_unit:string,
      |total_property:int, min_prop_per_floor:int, max_prop_per_floor:int,
      |min_selling_price:double, max_selling_price:double,
      |min_unit_price:double, max_unit_price:double, price_unit:string,
      |developer_name:string, handover_date_from:string,
      |quality_indexes:array<string>, trans_grade:string,
      |infra_grade:string, school_grade:string, videos:array<string>,
      |project_name:string, source_id:string, latitude:double,
      |longitude:double, number_of_blocks:int, number_of_floors:int,
      |number_of_basement:int, number_of_elevators:int,
      |green_density:double, construction_density:double,
      |swimming_pool_density:string, min_bedroom:int, max_bedroom:int,
      |apartment_prices:array<struct<number_of_bedroom:int,
      |min_price:double, max_price:double, min_area:double,
      |max_area:double>>, construction_start_date:string,
      |images:array<string>, master_plan_url:string,
      |ingested_at_utc:string, universal_id:string, segment:string,
      |full_address:string, street_name:string, construction_area:double,
      |unit_total:string, total_floor:int, min_bathroom:int,
      |max_bathroom:int, min_area:double, max_area:double,
      |min_rent_price:double, max_rent_price:double, investor_id:string,
      |investor_name:string, handover_date:string,
      |construction_end_date:string, release_year:string,
      |facilities:array<string>, utilities_internal:array<string>,
      |utilities_external:array<string>, web_url:string, record_key:string,
      |data_completeness_score:double, silver_processed_at:string,
      |silver_version:string, is_current:boolean, valid_from:string,
      |valid_to:string, ingestion_date:date, avg_selling_price:double,
      |avg_unit_price:double, price_range:double, area_range:double,
      |location_quality_score:double, has_swimming_pool:boolean,
      |has_gym:boolean, has_parking:boolean, has_garden:boolean,
      |has_security:boolean, has_playground:boolean, spider_name:string,
      |ingestion_year:string, ingestion_month:string""".stripMargin.replace("\n", " ").replace(" ", "")
  private val BareChototSchema =
    """source_id:string, project_name:string, project_type:string,
      |status:string, description:string, address:string, district:string,
      |city:string, area_unit:string, price_unit:string,
      |trans_grade:string, infra_grade:string, school_grade:string,
      |ingested_at_utc:string, universal_id:string, segment:string,
      |full_address:string, street_name:string, ward:string,
      |province:string, latitude:double, longitude:double,
      |total_area:double, construction_area:double, number_of_blocks:int,
      |total_property:int, unit_total:string, number_of_floors:int,
      |total_floor:int, number_of_basement:int, number_of_elevators:int,
      |green_density:double, construction_density:double,
      |swimming_pool_density:string, min_prop_per_floor:int,
      |max_prop_per_floor:int, min_bedroom:int, max_bedroom:int,
      |min_bathroom:int, max_bathroom:int, min_area:double,
      |max_area:double, min_selling_price:double, max_selling_price:double,
      |min_unit_price:double, max_unit_price:double, min_rent_price:double,
      |max_rent_price:double,
      |apartment_prices:array<struct<number_of_bedroom:int,
      |min_price:double, max_price:double, min_area:double,
      |max_area:double>>, investor_id:string, investor_name:string,
      |developer_name:string, handover_date_from:string,
      |handover_date:string, construction_start_date:string,
      |construction_end_date:string, release_year:string,
      |facilities:array<string>, utilities_internal:array<string>,
      |utilities_external:array<string>, quality_indexes:array<string>,
      |images:array<string>, videos:array<string>, master_plan_url:string,
      |web_url:string, record_key:string, data_completeness_score:double,
      |silver_processed_at:string, silver_version:string,
      |is_current:boolean, valid_from:string, valid_to:string,
      |ingestion_date:date, avg_selling_price:double,
      |avg_unit_price:double, price_range:double, area_range:double,
      |location_quality_score:double, has_swimming_pool:boolean,
      |has_gym:boolean, has_parking:boolean, has_garden:boolean,
      |has_security:boolean, has_playground:boolean, spider_name:string,
      |ingestion_year:string, ingestion_month:string""".stripMargin.replace("\n", " ").replace(" ", "")

  // ------------------------------------------------- job-count guard
  private object Plans extends AdaptiveSparkPlanHelper {
    /** JSON file scans of an executed plan, including those inside the
      * cached plans it reads (a cache is built by the first plan that
      * reads it). */
    def jsonScans(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[JsonFileFormat] => Seq(s)
      case m: InMemoryTableScanExec => jsonScans(m.relation.cachedPlan)
    }.flatten
  }

  test("one run parses bronze once and stays under its job ceiling") {
    val dir = Files.createTempDirectory("graft_silver_jobs").toString
    val bronze = SilverEtl.readBronze(spark, BronzeFixtures.write(dir), "2025-01-15")
    val cfg = SilverEtl.RunConfig(s"$dir/silver", s"$dir/q", s"$dir/m",
      "jobs_run", "2025-01-15")
    val jobs = new AtomicInteger
    // a scan instance is one parse however many plans reference it
    val jsonScans = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        jsonScans.synchronized(Plans.jsonScans(qe.executedPlan).foreach(jsonScans.add))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      SilverEtl.run(spark, bronze, cfg, fixedClock)
      org.apache.spark.ListenerBusDrain.drain(sc)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    assert(jsonScans.size === 1, "bronze JSON must be parsed exactly once per run")
    // measured on the fixture day; a re-added parse or count job breaks it
    assert(jobs.get <= 19, s"${jobs.get} jobs")
  }
}
