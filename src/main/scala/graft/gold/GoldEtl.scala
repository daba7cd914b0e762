package graft.gold

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.{Mappings, Schemas}
import graft.store.{PointerCommit, SnapshotStore}

/** Gold-layer ML-feature ETL (reference: gold_ml_etl.py:45-474): read
  * current silver rows → enhance → engineer ~60 features → quality tiers →
  * feature select → partitioned overwrite.
  */
object GoldEtl {

  val GoldVersion = "1.0"

  // ------------------------------------------------------------ step 1
  /** Current-snapshot scan. With the regioned silver layout this never
    * opens the closed region at all: gold's input is O(live keys)
    * regardless of how much history the silver table has accumulated. */
  def readSilver(spark: SparkSession, silverPath: String,
                 layout: graft.scd.SilverLayout = graft.scd.FlatLayout): DataFrame =
    layout.readCurrent(spark, silverPath)

  /** Silver only writes columns present in that day's bronze
    * (silver_etl_script.py:490-499 prunes to available columns), so a
    * silver snapshot can miss schema columns entirely — and the
    * reference's feature engineering then throws on e.g.
    * construction_area (gold_ml_etl.py:224-231 has no existence check;
    * found via a bronze day with no chotot construction areas). Conform
    * the input: add any missing declared column as a typed null. */
  def conformToSilverSchema(df: DataFrame): DataFrame =
    Schemas.conformToSilver(df)

  // ------------------------------------------------------------ step 3
  /** target variables (gold_ml_etl.py:129-162). */
  def createTargetVariables(df: DataFrame): DataFrame =
    df.withColumn("target_price_per_sqm", col("avg_unit_price"))
      .withColumn("target_total_price", col("avg_selling_price"))
      .withColumn("target_min_price", col("min_selling_price"))
      .withColumn("target_max_price", col("max_selling_price"))
      .withColumn("target_price_range",
        when(col("max_selling_price").isNotNull &&
          col("min_selling_price").isNotNull,
          col("max_selling_price") - col("min_selling_price"))
          .otherwise(lit(null)))

  /** city dim join + district hash encoding (gold_ml_etl.py:165-202). */
  def engineerLocationFeatures(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    val cityDim = Mappings.CityEncoding.toDF("city_name", "city_code")
    df.withColumn("city_normalized",
        trim(regexp_replace(
          regexp_replace(col("city"), "TP\\. ", ""), "Thành phố ", "")))
      .join(broadcast(cityDim), col("city_normalized") === col("city_name"), "left")
      .withColumn("city_encoded", coalesce(col("city_code"), lit(0)))
      .drop("city_name", "city_code", "city_normalized")
      .withColumn("district_encoded",
        when(col("district").isNotNull, abs(hash(col("district"))) % 1000)
          .otherwise(lit(0)))
  }

  /** log transforms, FAR, per-floor/per-unit ratios, avg bedroom
    * (gold_ml_etl.py:205-268). */
  def engineerPropertyFeatures(df: DataFrame): DataFrame =
    df.withColumn("log_total_area",
        when(col("total_area") > 0, log(col("total_area"))).otherwise(lit(null)))
      .withColumn("log_total_property",
        when(col("total_property") > 0, log(col("total_property")))
          .otherwise(lit(null)))
      .withColumn("floor_area_ratio",
        when(col("construction_area").isNotNull && col("total_area").isNotNull &&
          col("total_area") > 0, col("construction_area") / col("total_area"))
          .otherwise(lit(null)))
      .withColumn("avg_property_per_floor",
        when(col("total_property").isNotNull &&
          col("number_of_floors").isNotNull && col("number_of_floors") > 0,
          col("total_property") / col("number_of_floors"))
          .otherwise((col("min_prop_per_floor") + col("max_prop_per_floor")) / 2))
      .withColumn("avg_area_per_unit",
        when(col("total_area").isNotNull && col("total_property").isNotNull &&
          col("total_property") > 0, col("total_area") / col("total_property"))
          .otherwise(lit(null)))
      .withColumn("avg_bedroom",
        when(col("min_bedroom").isNotNull && col("max_bedroom").isNotNull,
          (col("min_bedroom") + col("max_bedroom")) / 2).otherwise(lit(null)))

  /** developer/investor hash encoding (gold_ml_etl.py:271-286). */
  def engineerDeveloperFeatures(df: DataFrame): DataFrame =
    df.withColumn("developer_encoded",
      when(col("developer_name").isNotNull,
        abs(hash(col("developer_name"))) % 500)
        .when(col("investor_name").isNotNull,
          abs(hash(col("investor_name"))) % 500)
        .otherwise(lit(0)))

  /** amenity count + score (gold_ml_etl.py:289-311). */
  def engineerAmenityFeatures(df: DataFrame): DataFrame =
    df.withColumn("amenity_count",
        Mappings.AmenityPatterns.map { case (c, _) => col(c).cast("int") }
          .reduce(_ + _))
      .withColumn("amenity_score", col("amenity_count") /
        lit(Mappings.AmenityPatterns.size.toDouble))

  /** year/quarter/month from ingestion_date (gold_ml_etl.py:314-321). */
  def engineerMarketFeatures(df: DataFrame): DataFrame =
    df.withColumn("year", year(col("ingestion_date")))
      .withColumn("quarter", quarter(col("ingestion_date")))
      .withColumn("month", month(col("ingestion_date")))

  def engineerFeatures(spark: SparkSession, df: DataFrame): DataFrame =
    engineerMarketFeatures(engineerAmenityFeatures(engineerDeveloperFeatures(
      engineerPropertyFeatures(engineerLocationFeatures(spark,
        createTargetVariables(df))))))

  // ------------------------------------------------------------ step 4
  /** quality tiers + training-ready flag (gold_ml_etl.py:328-373;
    * criteria gold_ml_schema.py:152-177). */
  def assignQualityTiers(df: DataFrame): DataFrame =
    df.withColumn("quality_tier",
        when(col("target_price_per_sqm").isNotNull &&
          col("target_price_per_sqm") > 0 &&
          col("latitude").isNotNull && col("longitude").isNotNull &&
          col("total_area") > 0 && col("data_completeness_score") >= 0.6,
          lit("high"))
          .when(col("target_price_per_sqm").isNotNull &&
            col("target_price_per_sqm") > 0 &&
            col("data_completeness_score") >= 0.4, lit("medium"))
          .otherwise(lit("low")))
      .withColumn("is_training_ready", col("quality_tier") === "high")

  // ------------------------------------------------------------ step 5
  /** ordered feature selection + audit columns (gold_ml_etl.py:380-444). */
  def selectMlFeatures(df: DataFrame,
                       clock: Column = current_timestamp()): DataFrame = {
    val d = df.withColumn("project_id", col("universal_id"))
      .withColumn("snapshot_date", col("ingestion_date"))
    val existing = Schemas.GoldFeatureColumns.filter(d.columns.contains)
    d.select(existing.map(col): _*)
      .withColumn("gold_processed_at", clock.cast("string"))
      .withColumn("gold_version", lit(GoldVersion))
  }

  // ------------------------------------------------------------ step 6
  /** Full-table publish as a new snapshot ([[PointerCommit]]) rather than
    * a raw SaveMode.Overwrite: plain overwrite deletes the live table
    * before writing, so a crash mid-write loses gold entirely. */
  def writeGold(df: DataFrame, goldPath: String): Unit =
    PointerCommit.publish(df, goldPath, Seq("quality_tier", "year", "month"))

  /** Sibling table holding [[Enhancement.imputationStats]] of the silver
    * snapshot the last FULL gold run (re-baseline) saw — the state that
    * makes [[runIncremental]] churn-proportional. */
  def statsPath(goldPath: String): String = {
    val p = new org.apache.hadoop.fs.Path(goldPath)
    new org.apache.hadoop.fs.Path(p.getParent, p.getName + "__stats").toString
  }

  /** Incremental gold — recompute ONLY the (year, month) ingestion groups
    * touched by silver changes on `runDate`, instead of the reference's
    * full overwrite (gold_ml_etl.py:458-464). This is the 100 TB shape:
    * gold READ, compute, and WRITE volume are all proportional to the
    * day's churn, not the table.
    *
    * Affected groups = ingestion year-months of versions that became
    * current on `runDate` (valid_from) PLUS versions closed out on
    * `runDate` (valid_to) — a re-ingested project's old gold row lives in
    * its OLD partition, which must be rewritten away. Tier moves stay
    * inside a (year, month) group, and every tier partition of an
    * affected group is rewritten. Durability: the replacement partitions
    * land in a fresh snapshot version whose manifest carries every
    * unchanged partition by reference ([[publishIncrementalManifest]]);
    * one pointer flip publishes it, so a failed run leaves gold
    * untouched.
    *
    * Imputation stats: the only corpus-wide state in the whole pipeline
    * (district/city price medians — everything else is row-local). When
    * the persisted stats table ([[statsPath]], published by every full
    * run and by the first incremental) exists, this run reads it instead
    * of re-aggregating the corpus, and the silver scan PRUNES to the
    * affected (ingestion_year, ingestion_month) partitions — the full
    * current snapshot is never read. Churned partitions' output is then
    * byte-equal to a full run executed at the stats' baseline. The
    * DOCUMENTED DRIFT WINDOW: rows whose imputation group's median moved
    * since the baseline keep the baseline's imputed values until the
    * next full run re-baselines the stats — the standard incremental
    * feature-store contract (stats lag churn; re-baseline bounds the
    * lag). Without a stats table the run falls back to full-snapshot
    * stats (exact, legacy shape) and publishes the table so the NEXT run
    * is incremental.
    *
    * `commit` has one value, [[PointerCommit]]; the parameter stays only
    * because the benchmark harness's source passes it.
    */
  def runIncremental(spark: SparkSession, silverPath: String, goldPath: String,
                     runDate: String,
                     clock: Column = current_timestamp(),
                     commit: PointerCommit.type = PointerCommit,
                     layout: graft.scd.SilverLayout = graft.scd.FlatLayout): DataFrame = {
    if (!layout.exists(spark, silverPath)) return spark.emptyDataFrame
    // on-or-after, not equality: a run that crosses UTC midnight stamps
    // some versions with the previous date (ISO strings compare
    // lexicographically = chronologically). With the regioned layout the
    // closed side of this scan prunes on its valid_to partitioning.
    val history = layout.read(spark, silverPath)
    val affected = history
      .filter(col("valid_from") >= runDate ||
        (col("valid_to").isNotNull && col("valid_to") >= runDate))
      .select(year(to_date(col("ingestion_date"))).as("year"),
        month(to_date(col("ingestion_date"))).as("month"))
      .distinct()
    val affectedKeys = affected.collect().map(r => (r.getInt(0), r.getInt(1)))
    if (affectedKeys.isEmpty) return spark.emptyDataFrame

    // the join side comes from the already-collected keys, not the
    // `affected` plan — re-evaluating it would scan the silver history a
    // second time inside the write job.
    val affectedDim = {
      import spark.implicits._
      affectedKeys.toSeq.toDF("year", "month")
    }
    val statsP = statsPath(goldPath)
    val stats =
      if (PointerCommit.exists(spark, statsP)) Some(PointerCommit.read(spark, statsP))
      else None
    val silverRaw = readSilver(spark, silverPath, layout)
    val silverFull = conformToSilverSchema(silverRaw)
    // partition-pruned read: with persisted stats nothing downstream
    // needs unchurned rows, and (ingestion_year, ingestion_month) are
    // the silver table's own partition columns, so this predicate prunes
    // whole directories at the scan. Cast handles zero-padded values.
    // Column presence is checked on the RAW frame: conformToSilverSchema
    // pads missing schema columns as typed NULLs, which would make this
    // guard vacuously true and the prune filter match zero rows — every
    // affected gold partition silently rewritten to empty.
    val canPrune = stats.isDefined &&
      silverRaw.columns.contains("ingestion_year") &&
      silverRaw.columns.contains("ingestion_month")
    val silver =
      if (canPrune)
        silverFull.filter(affectedKeys.map { case (y, m) =>
          col("ingestion_year").cast("int") === y &&
            col("ingestion_month").cast("int") === m
        }.reduce(_ || _))
      else silverFull
    val enhanced = stats match {
      case Some(st) => Enhancement.enhanceSilverDataWith(spark, silver, st)
      case None => Enhancement.enhanceSilverData(spark, silver)
    }
    val features = engineerFeatures(spark, enhanced)
      .join(broadcast(affectedDim), Seq("year", "month"), "left_semi")
    val selected = selectMlFeatures(assignQualityTiers(features), clock)
    // first incremental on a gold table with no stats yet: publish the
    // baseline (computed from the FULL snapshot this run already read)
    // so the next run prunes. Failure is non-fatal — stats are an
    // optimization, the legacy path stays correct without them.
    if (stats.isEmpty)
      try PointerCommit.publish(
        Enhancement.imputationStats(silverFull), statsP, Nil)
      catch { case scala.util.control.NonFatal(_) => () }
    // write ONLY the replacement partitions into a fresh version dir,
    // then publish a manifest that carries every unchanged partition
    // forward by reference and flip the pointer — incremental write
    // volume with full-snapshot atomicity
    publishIncrementalManifest(spark, goldPath, selected, affectedKeys)
    selected
  }

  /** Data columns every incremental gold publish stats in its sidecar.
    * `quarter` is a kept feature column that is CONSTANT within each
    * `month=` partition dir, so per-file [min,max] intervals are exact
    * singletons and a quarter/seasonal range read
    * ([[graft.store.FileStats.readRange]]) cuts the file list to the
    * matching months with no directory listing at all — the
    * time-range training-data pull a gold consumer actually runs. */
  val GoldStatCols: Seq[String] = Seq("quarter")

  /** Incremental gold publish: the affected (year, month) groups'
    * replacement partitions land in a brand-new version dir, and its
    * manifest carries every other partition forward by reference from
    * the previous snapshot, fenced on that snapshot. The stats sidecar
    * is O(churn) like the manifest: fresh partitions are scanned (narrow
    * — GoldStatCols only), carried ones copy their immutable sidecar
    * rows; the first incremental after a full run, which wrote no
    * sidecar, scans the whole table once. Gold range reads go through
    * FileStats.pruneFiles like silver's (s24). */
  private[graft] def publishIncrementalManifest(spark: SparkSession, goldPath: String,
                                         selected: DataFrame,
                                         affectedKeys: Array[(Int, Int)]): Unit = {
    val affected = affectedKeys.toSet
    // only the stat columns this frame actually carries — callers
    // outside the full gold pipeline (protocol tests, partial
    // publishes) may hand narrower frames, and a missing feature
    // column must degrade to "no stats", never an analysis error
    val statCols = GoldStatCols.filter(selected.columns.contains)
    SnapshotStore.publish(selected, goldPath, Seq("quality_tier", "year", "month"),
      SnapshotStore.currentName(spark, goldPath),
      replaces = Some(vals => affected((vals("year").toInt, vals("month").toInt))),
      stats = Some(statCols).filter(_.nonEmpty).map(graft.store.FileStats.StatCols(_)))
  }

  /** Full gold pipeline (gold_ml_etl.py:536-568). `commit` as in
    * [[runIncremental]]. */
  def run(spark: SparkSession, silverPath: String, goldPath: String,
          clock: Column = current_timestamp(),
          commit: PointerCommit.type = PointerCommit,
          layout: graft.scd.SilverLayout = graft.scd.FlatLayout): DataFrame = {
    if (!layout.exists(spark, silverPath)) {
      // no silver table yet (e.g. first day was empty): no-op instead of
      // PATH_NOT_FOUND — gold stays absent until silver exists.
      return spark.emptyDataFrame
    }
    val silver = conformToSilverSchema(readSilver(spark, silverPath, layout))
    val enhanced = Enhancement.enhanceSilverData(spark, silver)
    val features = engineerFeatures(spark, enhanced)
    val tiered = assignQualityTiers(features)
    val selected = selectMlFeatures(tiered, clock)
    writeGold(selected, goldPath)
    // re-baseline the imputation-stats table: every full run resets the
    // incremental drift window (runIncremental's doc) to zero
    PointerCommit.publish(Enhancement.imputationStats(silver), statsPath(goldPath), Nil)
    selected
  }
}
