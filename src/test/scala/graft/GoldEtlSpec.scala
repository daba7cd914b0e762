package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.silver.SilverEtl
import graft.gold.{Enhancement, GoldEtl}
import graft.store.{PointerCommit, SnapshotStore}

/** Golden run of silver → gold (enhancement + feature engineering + tiers)
  * over the synthetic bronze fixtures. */
class GoldEtlSpec extends SparkSuite {

  private lazy val base = {
    val dir = Files.createTempDirectory("graft_gold_spec").toString
    graft.fixtures.BronzeFixtures.write(dir)
    val cfg = SilverEtl.RunConfig(s"$dir/silver", s"$dir/quarantine",
      s"$dir/metadata", "gold_test_run", "2025-01-15")
    val bronze = SilverEtl.readBronze(spark, s"$dir/bronze", "2025-01-15")
    SilverEtl.run(spark, bronze, cfg, to_timestamp(lit("2025-01-15 12:00:00")))
    dir
  }
  private lazy val gold = {
    GoldEtl.run(spark, s"$base/silver", s"$base/gold",
      to_timestamp(lit("2025-01-15 13:00:00")))
    PointerCommit.read(spark, s"$base/gold")
  }

  test("district-median price imputation fills unpriced record") {
    val r = gold.filter(col("source_id") === "me_unpriced")
      .select("price_imputed", "target_price_per_sqm", "target_total_price").head
    assert(r.getBoolean(0))
    // meey Cầu Giấy priced avg_unit_prices: 6.1..6.5e7 (+7.0e7 from the
    // zero-coord record) → median (6.3+6.4)/2 = 6.35e7
    assert(r.getDouble(1) === 6.35e7)
    assert(r.getDouble(2) === 6.35e7 * 8000.0)
  }

  test("national fallback used when district and city unknown") {
    val r = gold.filter(col("source_id") === "me_unknown")
      .select("price_imputed", "target_price_per_sqm").head
    assert(r.getBoolean(0))
    assert(r.getDouble(1) === 8.0e7)
  }

  test("imputed rows get ±10% synthetic min/max") {
    val r = gold.filter(col("source_id") === "me_unpriced")
      .select("target_min_price", "target_max_price", "target_total_price").head
    assert(math.abs(r.getDouble(0) - r.getDouble(2) * 0.9) < 1e-6)
    assert(math.abs(r.getDouble(1) - r.getDouble(2) * 1.1) < 1e-6)
  }

  test("zero coordinates geocoded from district centroid") {
    val r = gold.filter(col("source_id") === "oh_3")
      .select("coordinates_imputed", "latitude", "longitude").head
    assert(r.getBoolean(0))
    assert(r.getDouble(1) === 21.0333) // Hanoi / Cầu Giấy centroid
    assert(r.getDouble(2) === 105.7944)
  }

  test("valid coordinates pass through un-imputed") {
    val r = gold.filter(col("source_id") === "oh_1")
      .select("coordinates_imputed", "latitude", "longitude").head
    assert(!r.getBoolean(0))
    assert(r.getDouble(1) === 21.028)
  }

  test("city encoding: Hanoi → 1; standardized HCMC misses the dim (reference quirk)") {
    val hanoi = gold.filter(col("source_id") === "oh_1")
      .select("city_encoded").head.getInt(0)
    assert(hanoi === 1)
    // silver standardizes to "Ho Chi Minh City" but CITY_ENCODING keys
    // "Ho Chi Minh" — the join misses and falls back to 0, exactly like
    // the reference (gold_ml_etl.py:168-192 vs gold_ml_schema.py:186)
    val hcmc = gold.filter(col("source_id") === "ch_1")
      .select("city_encoded").head.getInt(0)
    assert(hcmc === 0)
  }

  test("hash encodings are deterministic and bounded") {
    val rows = gold.select("district_encoded", "developer_encoded").collect()
    rows.foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) < 1000)
      assert(r.getInt(1) >= 0 && r.getInt(1) < 500)
    }
    val e1 = gold.filter(col("source_id") === "oh_1")
      .select("developer_encoded").head.getInt(0)
    val e2 = gold.filter(col("source_id") === "oh_1")
      .select("developer_encoded").head.getInt(0)
    assert(e1 === e2)
  }

  test("property features: log, FAR, ratios") {
    val r = gold.filter(col("source_id") === "oh_1")
      .select("log_total_area", "floor_area_ratio", "avg_property_per_floor",
        "avg_area_per_unit", "avg_bedroom").head
    assert(math.abs(r.getDouble(0) - math.log(5000.0)) < 1e-9)
    assert(r.isNullAt(1)) // construction_area absent for onehousing
    assert(r.getDouble(2) === 20.0)  // 600 props / 30 floors
    assert(math.abs(r.getDouble(3) - 5000.0 / 600) < 1e-9)
    assert(r.getDouble(4) === 2.0)   // (1+3)/2
  }

  test("amenity count/score from description flags") {
    val r = gold.filter(col("source_id") === "oh_1")
      .select("amenity_count", "amenity_score").head
    // swimming pool, gym, parking, garden in the description
    assert(r.getInt(0) === 4)
    assert(math.abs(r.getDouble(1) - 4.0 / 6.0) < 1e-9)
  }

  test("market features from ingestion_date") {
    // year/month are gold partition columns → read back as strings with
    // partition-type inference off; quarter is a data column (int)
    val r = gold.select("year", "quarter", "month").head
    assert(r.getString(0) === "2025" && r.getInt(1) === 1 && r.getString(2) === "1")
  }

  test("quality tiers: complete record is high and training-ready") {
    val r = gold.filter(col("source_id") === "oh_1")
      .select("quality_tier", "is_training_ready").head
    assert(r.getString(0) === "high")
    assert(r.getBoolean(1))
  }

  test("gold output is partitioned by quality_tier/year/month") {
    gold
    val snapshot = SnapshotStore.currentPath(spark, s"$base/gold").get
    val dirs = new java.io.File(snapshot.toUri.getPath).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("quality_tier=")))
  }

  test("location_quality_score reflects coords/district/ward weights") {
    val r = gold.filter(col("source_id") === "oh_1")
      .select("location_quality_score").head.getDouble(0)
    assert(r === 1.0) // 0.4 coords + 0.3 district + 0.3 ward
  }

  test("feature columns match the declared gold selection") {
    val expected = graft.schema.Schemas.GoldFeatureColumns.toSet ++
      Set("gold_processed_at", "gold_version")
    assert(gold.columns.toSet === expected)
  }

  test("incremental gold with persisted stats: pruned scan, baseline medians, re-baseline") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_gold_stats").toString
    val silverPath = s"$dir/silver"
    val goldPath = s"$dir/gold"
    def rows(t: (String, Option[Double], String, String, String)*) = {
      val base = t.toSeq.map { case (uid, price, vf, y, m) =>
        (uid, "Hanoi", "CG", price.map(Double.box).orNull,
          price.map(p => Double.box(p * 80)).orNull, 80.0,
          true, vf, null: String, s"2025-0$m-15", y, m)
      }.toDF("universal_id", "city", "district", "avg_unit_price",
        "avg_selling_price", "total_area", "is_current", "valid_from",
        "valid_to", "ingestion_date", "ingestion_year", "ingestion_month")
      // amenity flags are silver-derived (not in the declared schema that
      // conformToSilverSchema pads), so the fixture must carry them
      graft.schema.Mappings.AmenityPatterns.foldLeft(base) {
        case (df, (c, _)) => df.withColumn(c, lit(false))
      }
    }
    val parts = Seq("ingestion_year", "ingestion_month")
    // each day republishes the silver snapshot with its new rows
    def append(day: org.apache.spark.sql.DataFrame): Unit = PointerCommit.publish(
      PointerCommit.read(spark, silverPath).unionByName(day), silverPath, parts)
    // day 1: two ingestion months; CG priced medians: (90,110,100) → 100;
    // u3 unpriced → imputed at the district median
    PointerCommit.publish(rows(("u1", Some(90.0), "2025-01-10", "2025", "1"),
      ("u2", Some(110.0), "2025-01-10", "2025", "1"),
      ("u3", None, "2025-01-10", "2025", "1"),
      ("u4", Some(100.0), "2025-01-10", "2025", "2")), silverPath, parts)
    val clock = to_timestamp(lit("2025-01-20 12:00:00"))
    GoldEtl.run(spark, silverPath, goldPath, clock)
    val stats0 = PointerCommit.read(spark, GoldEtl.statsPath(goldPath))
    assert(stats0.filter(col("level") === "district").head
      .getAs[Double]("median_unit_price") === 100.0)

    // day 2: stats-NEUTRAL churn in month 1 (new row at the median).
    // The incremental run must (a) prune the silver scan to month 1,
    // (b) produce byte-identical output to a full run for that group.
    append(rows(("u5", Some(100.0), "2025-01-21", "2025", "1")))
    val clock2 = to_timestamp(lit("2025-01-21 12:00:00"))
    val inc = GoldEtl.runIncremental(spark, silverPath, goldPath,
      "2025-01-21", clock2)
    // pruning proof: the silver scan's SELECTED partitions (post
    // partition-filter) exclude the untouched ingestion month —
    // df.inputFiles would list the whole table regardless of pruning
    val silverScans = inc.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("/silver")) => f
    }
    assert(silverScans.nonEmpty, "expected a silver file scan in the plan")
    val scanned = silverScans.flatMap(_.selectedPartitions.toPartitionArray)
      .map(_.filePath.toString)
    assert(scanned.nonEmpty && !scanned.exists(_.contains("ingestion_month=2")),
      s"silver scan must prune to the churned ingestion partitions, read: $scanned")
    val goldFull = s"$dir/gold_full"
    GoldEtl.run(spark, silverPath, goldFull, clock2)
    def monthOne(path: String) = PointerCommit.read(spark, path)
      .filter(col("month") === "1").orderBy("project_id")
      .collect().map(_.toString).toSeq
    assert(monthOne(goldPath) === monthOne(goldFull),
      "churned partitions must be byte-equal to a full run at the same stats baseline")

    // day 3: stats-MOVING churn (two high prices shift the live median to
    // 105). The incremental keeps the BASELINE median (documented drift
    // window): u3 stays imputed at 100, not 105.
    append(rows(("u6", Some(500.0), "2025-01-22", "2025", "1"),
      ("u7", Some(600.0), "2025-01-22", "2025", "1")))
    GoldEtl.runIncremental(spark, silverPath, goldPath, "2025-01-22",
      to_timestamp(lit("2025-01-22 12:00:00")))
    def u3Price(path: String) = PointerCommit.read(spark, path)
      .filter(col("project_id") === "u3").head.getAs[Double]("target_price_per_sqm")
    assert(u3Price(goldPath) === 100.0, "incremental keeps baseline stats (drift window)")

    // re-baseline: a full run refreshes both gold and the stats table
    GoldEtl.run(spark, silverPath, goldPath,
      to_timestamp(lit("2025-01-23 12:00:00")))
    assert(u3Price(goldPath) === 105.0, "re-baseline closes the drift window")
    val stats1 = PointerCommit.read(spark, GoldEtl.statsPath(goldPath))
    assert(stats1.filter(col("level") === "district").head
      .getAs[Double]("median_unit_price") === 105.0)
  }

  test("incremental gold with all rows affected equals the full run; no-op date leaves gold untouched") {
    gold // force full pipeline on the shared fixture first
    val incBase = java.nio.file.Files.createTempDirectory("graft_gold_inc").toString
    // every fixture row became current on 2025-01-15 (the injected clock)
    val inc = GoldEtl.runIncremental(spark, s"$base/silver", s"$incBase/gold",
      "2025-01-15", to_timestamp(lit("2025-01-15 13:00:00")))
    assert(inc.count() > 0)
    val full = PointerCommit.read(spark, s"$base/gold")
    val incRead = PointerCommit.read(spark, s"$incBase/gold")
    assert(incRead.count() === full.count())
    // identical content (project_id is the stable key)
    val fullIds = full.select("project_id").collect().map(_.getString(0)).sorted
    val incIds = incRead.select("project_id").collect().map(_.getString(0)).sorted
    assert(incIds.toSeq === fullIds.toSeq)
    // a date that touched nothing: no-op, existing gold unchanged
    val before = incRead.count()
    val noop = GoldEtl.runIncremental(spark, s"$base/silver", s"$incBase/gold",
      "2099-01-01", to_timestamp(lit("2025-01-16 13:00:00")))
    assert(noop.isEmpty)
    assert(PointerCommit.read(spark, s"$incBase/gold").count() === before)
  }

  test("incremental gold maintains the stats sidecar O(churn): carried " +
    "rows byte-identical, fresh partitions re-statted, range read prunes") {
    import graft.store.{FileStats, PointerCommit, SnapshotStore}
    val base = Files.createTempDirectory("graft_gold_sidecar").toString
    val parts = Seq("ingestion_year", "ingestion_month")
    val ck = col("id")
    def silverRows(tag: String, months: Int, vf: String) = {
      val d = spark.range(if (tag == "base") 600 else 30).select(
        concat(lit(if (tag == "base") "" else s"$tag-"),
          ck.cast("string")).as("universal_id"),
        lit("Hanoi").as("city"),
        concat(lit("Zone "), (ck % 9).cast("string")).as("district"),
        (lit(100.0) + (ck % 900).cast("double")).as("avg_unit_price"),
        ((lit(100.0) + (ck % 900).cast("double")) * 80).as("avg_selling_price"),
        lit(80.0).as("total_area"),
        lit(true).as("is_current"),
        lit(vf).as("valid_from"),
        lit(null).cast("string").as("valid_to"),
        concat(lit("2025-"), lpad(((ck % months) + 1).cast("string"), 2, "0"),
          lit("-15")).as("ingestion_date"),
        lit("2025").as("ingestion_year"),
        lpad(((ck % months) + 1).cast("string"), 2, "0").as("ingestion_month"))
      graft.schema.Mappings.AmenityPatterns.foldLeft(d) {
        case (df, (c, _)) => df.withColumn(c, lit(false))
      }
    }
    val b = silverRows("base", 12, "2025-01-10")
    PointerCommit.publish(b, s"$base/silver", parts)
    GoldEtl.run(spark, s"$base/silver", s"$base/gold",
      to_timestamp(lit("2025-01-20 12:00:00")))
    // day 2: bootstrap sidecar (prev snapshot predates stats)
    PointerCommit.publish(b.unionByName(silverRows("n1", 1, "2025-01-21")),
      s"$base/silver", parts)
    GoldEtl.runIncremental(spark, s"$base/silver", s"$base/gold",
      "2025-01-21", to_timestamp(lit("2025-01-21 12:00:00")))
    val snaps = new org.apache.hadoop.fs.Path(
      s"$base/gold", SnapshotStore.SnapshotsDir)
    def sidecarOf(name: String) = spark.read.parquet(
      new org.apache.hadoop.fs.Path(snaps,
        name + FileStats.StatsSuffix).toString)
    val v2 = SnapshotStore.currentName(spark, s"$base/gold").get
    // day 3: incremental sidecar on top of the bootstrap
    PointerCommit.publish(b
        .unionByName(silverRows("n1", 1, "2025-01-21"))
        .unionByName(silverRows("n2", 1, "2025-01-22")),
      s"$base/silver", parts)
    GoldEtl.runIncremental(spark, s"$base/silver", s"$base/gold",
      "2025-01-22", to_timestamp(lit("2025-01-22 12:00:00")))
    val v3 = SnapshotStore.currentName(spark, s"$base/gold").get
    assert(v3 !== v2)
    val s2 = sidecarOf(v2).collect().map(r => r.getString(0) -> r).toMap
    val s3 = sidecarOf(v3).collect().map(r => r.getString(0) -> r).toMap
    val carried = s3.keySet.intersect(s2.keySet)
    assert(carried.nonEmpty, "day-3 must carry unchanged partitions' rows")
    carried.foreach(f => assert(s3(f) === s2(f),
      s"carried sidecar row changed for $f"))
    // fresh month-01 files are re-statted under the new version dir
    assert(s3.keySet.exists(f => f.contains(s"/$v3/") && f.contains("month=1")),
      s"no fresh month-01 stats under $v3: ${s3.keySet.mkString("\n")}")
    // and the production range read prunes through the sidecar
    val (sel, all) = FileStats.pruneFiles(spark, s"$base/gold", "quarter", 3, 3)
    assert(sel.nonEmpty && sel.length < all.length,
      s"quarter read should skip files: ${sel.length}/${all.length}")
    val got = FileStats.readSelected(spark, s"$base/gold", sel,
      col("quarter") === 3).count()
    // months 7-9 of the 600 base rows (ids 0-599, id%12+1 ∈ {7,8,9})
    assert(got === 150L)
  }
}
