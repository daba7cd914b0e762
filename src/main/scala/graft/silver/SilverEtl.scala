package graft.silver

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.schema.{Mappings, Schemas}
import graft.transform.Transforms
import graft.quality.QualityChecks

/** Silver-layer ETL — the reference's 10-step batch pipeline
  * (silver_etl_script.py:1060-1113) as composable DataFrame stages.
  *
  * Shape of a run:
  *  - every stage (source specials, mapping, validation flags,
  *    standardize, enrich) is ONE projection built from a name → column
  *    table, not a chain of `withColumn`s that re-analyzes a growing plan
  *    at every link;
  *  - bronze is parsed once: `run` materializes the parsed day, then the
  *    mapped-and-flagged split, the dedup and the enriched batch, each as
  *    an eager local checkpoint that later plans read instead of its
  *    lineage;
  *  - the step counts are `Dataset.observe` metrics of those
  *    materializations, and the quality battery is one aggregate, so no
  *    job runs just to count.
  *
  * Deviations from the reference, by design:
  *  - `clock` is injected (the reference stamps current_timestamp —
  *    silver_etl_script.py:879-884 — which is untestable);
  *  - the 4σ outlier pass (silver_etl_script.py:666-693) keeps the
  *    reference's SEQUENTIAL per-column semantics, but its (μ, σ) pairs
  *    come from a cached projection of the six price/area columns, and
  *    the std>0 guard moves into the predicate.
  */
object SilverEtl {

  final case class EtlStats(recordsRead: Long, recordsValid: Long,
                            recordsInvalid: Long, duplicatesRemoved: Long,
                            recordsWritten: Long, avgCompletenessScore: Double)

  // ------------------------------------------------------------ step 1
  /** Bronze day-paths: bronze/{spider}/year=Y/month=M/YYYYMMDD*.jsonl
    * (silver_etl_script.py:122-134). */
  def bronzePathsFor(base: String, startDate: String): Seq[String] = {
    val (year, month) = (startDate.substring(0, 4), startDate.substring(5, 7))
    val dayPrefix = startDate.replace("-", "")
    Mappings.ProjectSpiders.map(sp =>
      s"$base/$sp/year=$year/month=$month/$dayPrefix*.jsonl")
  }

  /** Read one day of bronze. Globs that match no files are dropped first
    * (a spider that didn't run that day is normal, not an error — the
    * reference tolerates it via its per-source `if spider in df` checks);
    * a day with NO matching files at all returns an empty frame so the
    * pipeline no-ops instead of throwing PATH_NOT_FOUND. */
  def readBronze(spark: SparkSession, base: String, startDate: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val existing = bronzePathsFor(base, startDate).filter { glob =>
      val p = new org.apache.hadoop.fs.Path(glob)
      val fs = p.getFileSystem(conf)
      val matches = fs.globStatus(p)
      // zero-length files (a spider ran but crawled nothing) must also be
      // dropped — spark.read.json on only-empty files cannot infer a
      // schema and throws UNABLE_TO_INFER_SCHEMA.
      matches != null && matches.exists(_.getLen > 0)
    }
    if (existing.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("spider_name",
            org.apache.spark.sql.types.StringType))))
    else spark.read.json(existing: _*)
  }

  // ------------------------------------------------------------ step 2
  /** Per-source special transforms (silver_etl_script.py:179-344) as the
    * assignments of one projection: every special reads only raw bronze
    * columns, so none depends on another's output. */
  private def sourceSpecials(df: DataFrame, spider: String): Seq[(String, Column)] = {
    val schema = df.schema
    def has(c: String) = schema.fieldNames.contains(c)
    def opt(cond: Boolean)(values: => Seq[(String, Column)]) = if (cond) values else Nil
    spider match {
      case "chotot_api" =>
        opt(has("geo"))(Transforms.geoCoordinates(col("geo")))
      case "onehousing_api" =>
        opt(has("insight_by_bedroom"))(Transforms.bedroomRange(col("insight_by_bedroom"))) ++
          opt(has("quality_indexes"))(Seq("quality_indexes" ->
            Transforms.qualityIndexNames(col("quality_indexes")))) ++
          Seq("number_of_basement" -> "number_basement",
            "number_of_elevators" -> "number_ele").collect {
            case (target, src) if has(src) => target -> Transforms.firstOfArray(col(src))
          } ++
          opt(has("total_area"))(Seq("total_area" ->  // ha → m² (:211-219)
            when(col("total_area").isNotNull, col("total_area") * 10000)
              .otherwise(lit(null)))) ++
          opt(has("albums"))(Seq("albums" ->          // albums → flat image urls (:223-242)
            when(col("albums").isNotNull && size(col("albums")) > 0,
              expr("flatten(transform(albums, x -> x.images))"))
              .otherwise(lit(null)))) ++
          opt(has("insight_by_bedroom"))(Seq("insight_by_bedroom" ->  // typed struct array (:244-268)
            when(col("insight_by_bedroom").isNotNull, expr(
              """transform(insight_by_bedroom, x -> struct(
                |  cast(x.number_of_bedroom as int) as number_of_bedroom,
                |  cast(x.min_price as double) as min_price,
                |  cast(x.max_price as double) as max_price,
                |  cast(x.min_carpet_area as double) as min_area,
                |  cast(x.max_carpet_area as double) as max_area))""".stripMargin))
              .otherwise(lit(null))))
      case "meeyproject_api" =>
        val structImages = schema.find(_.name == "images").exists(_.dataType match {
          case ArrayType(_: StructType, _) => true
          case _ => false
        })
        opt(has("location"))(Transforms.meeyLocation(col("location"))) ++
          opt(has("projectTypes"))(Seq("projectTypes" ->  // unique translated names (:278-298)
            when(col("projectTypes").isNotNull && size(col("projectTypes")) > 0,
              expr("array_distinct(flatten(transform(projectTypes, pt -> transform(pt.translation, t -> t.name))))"))
              .otherwise(lit(null)))) ++
          opt(structImages)(Seq("images" ->              // images[].url (:301-312)
            when(col("images").isNotNull && size(col("images")) > 0,
              expr("transform(images, img -> img.url)")).otherwise(lit(null)))) ++
          opt(has("investorRelated"))(Seq("investor_name" -> col("investorRelated.investor.name"))) ++
          opt(has("utilities"))(Seq("utilities_internal" -> col("utilities.basicUtilities"))) ++
          Seq("ward", "district", "city").collect {
            case f if schema.find(_.name == f).exists(_.dataType.isInstanceOf[StructType]) =>
              f -> Transforms.translationName(col(f))
          }
      case _ => Nil
    }
  }

  def applySourceSpecials(df: DataFrame, spider: String): DataFrame =
    Transforms.assign(df, sourceSpecials(df, spider))

  /** Rename per mapping, cast per TYPE_CONVERSIONS, dual-format handover
    * date, defaults, conform to SILVER_SCHEMA types, prune columns
    * (silver_etl_script.py:346-499) — one projection over the specials.
    * Each step rewrites a name → (value, type) table the way the
    * reference's column loop rewrites its frame; the table's types stand
    * in for the live schema the conform step inspects. */
  def mapSource(df: DataFrame, spider: String): DataFrame = {
    val special = applySourceSpecials(df, spider)
    val fields = mutable.LinkedHashMap[String, (Column, DataType)](
      special.schema.fields.toSeq.map(f => f.name -> (col(f.name), f.dataType)): _*)

    // standard renames (:347-353)
    Mappings.SourceMappings.getOrElse(spider, Seq.empty).foreach {
      case (target, source) =>
        fields.get(source).foreach { v =>
          if (target != source) {
            fields.remove(target)
            fields.remove(source)
            fields(target) = v
          }
        }
    }
    // declared casts (:356-361)
    Mappings.TypeConversions.foreach { case (f, t) =>
      fields.get(f).foreach { case (c, _) => fields(f) = (c.cast(t), DataType.fromDDL(t)) }
    }
    // OneHousing dual-format handover_date_from (:363-389)
    if (spider == "onehousing_api")
      fields.get("handover_date_from").foreach { case (c, _) =>
        fields("handover_date_from") = (Transforms.parseDualFormatDate(c), TimestampType)
      }
    // defaults for entirely-missing fields (:391-394)
    Mappings.DefaultValues.foreach { case (f, v) =>
      if (!fields.contains(f)) fields(f) = (lit(v), StringType)
    }
    // conform present columns to SILVER_SCHEMA types (:401-488), pruned to
    // the schema's columns plus the bronze envelope timestamp (:490-499)
    val conformed = Schemas.Silver.fields.toSeq.flatMap { sf =>
      fields.get(sf.name).map { case (c, dt) =>
        (sf.dataType match {
          case ArrayType(StringType, _) => Transforms.stringArray(c, dt)
          case at: ArrayType => dt match {
            case _: ArrayType => c.cast(at)
            case _ => lit(null).cast(at)
          }
          case target => c.cast(target)
        }).as(sf.name)
      }
    }
    special.select(conformed ++ fields.get("timestamp").map(_._1.as("timestamp")): _*)
  }

  /** Union mapped sources, convert bronze timestamp → ingested_at_utc
    * (silver_etl_script.py:157-521). */
  def applySchemaMapping(df: DataFrame): DataFrame = {
    val unified = Mappings.ProjectSpiders
      .map(sp => mapSource(df.filter(col("spider_name") === sp), sp))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val names = unified.columns.toSeq
    val stamped =
      if (names.contains("timestamp") && !names.contains("ingested_at_utc"))
        unified.select(names.filterNot(_ == "timestamp").map(col) :+
          to_timestamp(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss").as("ingested_at_utc"): _*)
      else unified
    // pad declared silver columns missing from this day's bronze with
    // typed nulls: validate/enrich reference latitude/price columns
    // unconditionally, and a thin day (no source carried coordinates)
    // would otherwise abort with UNRESOLVED_COLUMN.
    Schemas.conformToSilver(stamped)
  }

  // ------------------------------------------------------------ step 3
  /** The critical-field predicate (silver_etl_script.py:526-537). Never
    * null: every conjunct after a null test is guarded by it. */
  val ValidRecord: Column = col("spider_name").isNotNull &&
    col("ingested_at_utc").isNotNull && col("source_id").isNotNull &&
    col("project_name").isNotNull && (length(col("project_name")) > 0)

  /** The coord/price witness flags (silver_etl_script.py:539-589). */
  def flagWitnesses(df: DataFrame): DataFrame = Transforms.assign(df, Seq(
    "_has_valid_coords" ->
      when(col("latitude").isNotNull && col("longitude").isNotNull &&
        col("latitude") =!= 0 && col("longitude") =!= 0 &&
        col("latitude").between(-90, 90) && col("longitude").between(-180, 180),
        lit(true)).otherwise(lit(false)),
    "_has_valid_price" ->
      when(col("min_selling_price").isNotNull ||
        col("max_selling_price").isNotNull ||
        col("min_unit_price").isNotNull || col("max_unit_price").isNotNull,
        lit(true)).otherwise(lit(false))))

  /** Critical-field predicate split + coord/price witness flags
    * (silver_etl_script.py:526-589). */
  def validate(df: DataFrame): (DataFrame, DataFrame) = {
    val flagged = flagWitnesses(df)
    (flagged.filter(ValidRecord), flagged.filter(!ValidRecord))
  }

  // ------------------------------------------------------------ step 4
  /** Quality-check battery over the valid split
    * (silver_etl_script.py:594-626), answered by ONE aggregate. */
  def runQualityChecks(df: DataFrame): Seq[QualityChecks.CheckResult] = {
    val required = Seq("spider_name", "source_id", "ingested_at_utc")
    val present = df.columns.toSet
    QualityChecks.evaluate(df, Seq(
      QualityChecks.nullPercentage(df, required, Schemas.Thresholds.nullThreshold),
      QualityChecks.completeness(df, required)) ++
      // universal_id is derived in enrich; at this stage the padded column
      // is all-null — only meaningful to check once values exist.
      Seq("universal_id").filter(present).map(QualityChecks.uniquenessOncePopulated(df, _)) ++
      Seq("email" -> Schemas.Thresholds.emailPattern,
        "phone" -> Schemas.Thresholds.phonePattern).collect {
        case (c, pattern) if present(c) => QualityChecks.format(c, pattern)
      })
  }

  // ------------------------------------------------------------ step 5
  /** record_key → keep-latest dedup → fillna → sequential 4σ outlier
    * filter (silver_etl_script.py:631-696). */
  val OutlierColumns: Seq[String] = Seq("min_selling_price", "max_selling_price",
    "min_unit_price", "max_unit_price", "total_area", "construction_area")

  /** 5.1: keep-latest per (spider_name, record_key). */
  def dedupLatest(df: DataFrame): DataFrame = {
    // an explicit partition count: left to AQE, a small batch coalesces
    // into fewer partitions, and the run's average completeness score (a
    // double sum over these partitions) would move with the batch size
    val keyed = df.withColumn("record_key",
      coalesce(col("source_id"), lit("UNKNOWN")))
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("spider_name"), col("record_key"))
    // content-hash tie-break: two same-key records sharing a crawl
    // timestamp would otherwise keep an arbitrary winner per scheduling,
    // and a re-run could flip it — which Scd2 then misreads as a change.
    val w = Window.partitionBy("spider_name", "record_key")
      .orderBy(col("ingested_at_utc").desc,
        hash(keyed.columns.map(col): _*).asc)
    keyed.withColumn("row_num", row_number().over(w))
      .filter(col("row_num") === 1).drop("row_num")
  }

  /** 5.2 + 5.3: defaults fill, then sequential 4σ — each column's stats
    * reflect prior columns' filtering, exactly like the reference loop.
    *
    * The stats are PULLED TO THE DRIVER as two scalars per column (an
    * eager `.head` each) and re-injected as literals. A fully-lazy
    * formulation (crossJoin(broadcast(agg)) per column) was tried first
    * and is a scaling trap: each level's aggregate subtree embeds the
    * previous level's whole plan, so the base scan appears ~2^6 times in
    * the final tree. Six scalar aggregates are the linear shape — "no
    * driver-side collect except scalar stats" (SURVEY.md §7.5) explicitly
    * allows this one. They read a cached single-partition projection of
    * just the outlier columns (the fill touches none of them), so each is
    * one small job over a short plan, and the wide frame is filtered once
    * by the conjunction of the surviving predicates. */
  def fillAndRemoveOutliers(df: DataFrame): DataFrame = {
    val fills = Mappings.DefaultValues.filter { case (f, _) => df.columns.contains(f) }
    val filled = if (fills.nonEmpty) df.na.fill(fills) else df
    val cols = OutlierColumns.filter(filled.columns.contains)
    if (cols.isEmpty) return filled
    val narrow = filled.select(cols.map(col): _*).coalesce(1).cache()
    try {
      val keep = cols.foldLeft(Option.empty[Column]) { (kept, c) =>
        val row = kept.fold(narrow)(narrow.filter).filter(col(c).isNotNull)
          .agg(avg(col(c)).as("mu"), stddev_samp(col(c)).as("sd")).head()
        if (!row.isNullAt(1) && row.getDouble(1) > 0) {
          val (mu, sd) = (row.getDouble(0), row.getDouble(1))
          val inBand = col(c).isNull || abs((col(c) - mu) / sd) < 4
          Some(kept.fold(inBand)(_ && inBand))
        } else kept
      }
      keep.fold(filled)(filled.filter)
    } finally narrow.unpersist()
  }

  def cleanse(df: DataFrame): DataFrame = fillAndRemoveOutliers(dedupLatest(df))

  // ------------------------------------------------------------ step 6
  /** HTML/text/city standardization + partition columns
    * (silver_etl_script.py:701-749), one projection. */
  def standardize(df: DataFrame): DataFrame = {
    val a = new Transforms.Assignments(df)
    if (a.has("phone")) a.set("phone", Transforms.phoneNumber(a("phone")))
    if (a.has("email")) a.set("email", Transforms.email(a("email")))
    if (a.has("description")) a.set("description", Transforms.htmlCleaned(a("description")))
    Seq("project_name", "address", "description").foreach { c =>
      if (a.has(c)) a.set(c, Transforms.normalizedText(a(c)))
    }
    if (a.has("city")) a.set("city", Transforms.cityName(a("city")))
    a.set("ingestion_year", date_format(a("ingested_at_utc"), "yyyy"))
      .set("ingestion_month", date_format(a("ingested_at_utc"), "MM"))
      .set("ingestion_date", to_date(a("ingested_at_utc")))
      .result
  }

  // ------------------------------------------------------------ step 7
  /** universal_id, price aggregates, quality scores, audit columns,
    * amenity flags, dates→string (silver_etl_script.py:754-911), one
    * projection. */
  def enrich(df: DataFrame, clock: Column = current_timestamp()): DataFrame = {
    val a = new Transforms.Assignments(df)
    a.set("universal_id", sha2(concat_ws("_", a("spider_name"), a("record_key")), 256))
    // avg/range columns with presence guards (silver_etl_script.py:770-828;
    // note: no avg_rent_price here — that lives only in the transform
    // catalog, the reference enrich never calls it)
    def guardedAvg(minC: String, maxC: String): Column = {
      // presence-guard BOTH one-sided shapes: a frame carrying exactly
      // one of the pair (silver only writes columns present in that
      // day's bronze) must degrade to the present column, not throw
      // UNRESOLVED_COLUMN building the absent one
      val hasMin = a.has(minC)
      val hasMax = a.has(maxC)
      if (!hasMin && !hasMax) lit(null)
      else if (!hasMax) a(minC)
      else if (!hasMin) a(maxC)
      else when(a(minC).isNotNull && a(maxC).isNotNull,
        (a(minC) + a(maxC)) / 2)
        .when(a(minC).isNotNull, a(minC))
        .when(a(maxC).isNotNull, a(maxC))
        .otherwise(lit(null))
    }
    def guardedRange(minC: String, maxC: String): Column =
      if (!a.has(minC) || !a.has(maxC)) lit(null)
      else when(a(minC).isNotNull && a(maxC).isNotNull, a(maxC) - a(minC))
        .otherwise(lit(null))
    a.set("avg_selling_price", guardedAvg("min_selling_price", "max_selling_price"))
      .set("avg_unit_price", guardedAvg("min_unit_price", "max_unit_price"))
      .set("price_range", guardedRange("min_selling_price", "max_selling_price"))
      .set("area_range", guardedRange("min_area", "max_area"))
    val gradeCols = Seq("trans_grade", "infra_grade", "school_grade").filter(a.has)
    a.set("location_quality_score",
      if (gradeCols.isEmpty) lit(0.0)
      else gradeCols.map(c => when(a(c).isNotNull, 1).otherwise(0))
        .reduce(_ + _) / lit(gradeCols.size.toDouble))
    val valuationFields = Seq("project_name", "address", "latitude", "longitude",
      "avg_selling_price", "avg_unit_price", "total_area", "district", "city",
      "project_type").filter(a.has)
    a.set("data_completeness_score",
      if (valuationFields.isEmpty) lit(0.0)
      else valuationFields.map(f =>
        when(a(f).isNotNull && a(f).cast("string") =!= "" &&
          a(f).cast("string") =!= "UNKNOWN", 1).otherwise(0))
        .reduce(_ + _) / lit(valuationFields.size.toDouble))
    a.set("silver_processed_at", clock)
      .set("silver_version", lit("2.0"))
      .set("is_current", lit(true))
      .set("valid_from", clock)
      .set("valid_to", lit(null).cast("timestamp"))
    if (a.has("description"))
      a.setAll(Transforms.projectFeatures(a("description")))
    // stringly-dates pass (:892-908) — deliberate reference behavior
    Seq("ingested_at_utc", "silver_processed_at", "valid_from", "valid_to",
      "handover_date_from", "handover_date", "construction_start_date",
      "construction_end_date").filter(a.has).foreach { f =>
      a.set(f, when(a(f).isNotNull, to_date(a(f)).cast("string")).otherwise(lit(null)))
    }
    a.result
  }

  // -------------------------------------------------------- steps 8-10
  final case class RunConfig(silverPath: String, quarantinePath: String,
                             metadataPath: String, runId: String,
                             startDate: String)

  /** Full pipeline over an already-read bronze frame. Returns run stats
    * (the reference's observable per-step counts,
    * silver_etl_script.py:1046-1055). The SCD2 table publishes through
    * [[graft.store.PointerCommit]]; `commit` has that one value and stays
    * only because the benchmark harness's source passes it. */
  def run(spark: SparkSession, bronze: DataFrame, cfg: RunConfig,
          clock: Column = current_timestamp(),
          commit: graft.store.PointerCommit.type = graft.store.PointerCommit,
          layout: graft.scd.SilverLayout = graft.scd.FlatLayout): EtlStats = {
    // Each stage's frame is materialized once, as an eager local
    // checkpoint: later plans start from its rows instead of re-analyzing
    // its lineage, and the counts the run reports are observed while it
    // is written. `release` drops a checkpoint's blocks once no plan
    // reads it.
    val held = mutable.ArrayBuffer[DataFrame]()
    def checkpoint(df: DataFrame): DataFrame = {
      val done = df.localCheckpoint(eager = true)
      held += done
      done
    }
    def materialize(df: DataFrame, metric: Column, more: Column*): (DataFrame, Map[String, Any]) = {
      val obs = Observation()
      val done = checkpoint(df.observe(obs, metric, more: _*))
      (done, obs.get)
    }
    def release(df: DataFrame): Unit = df.queryExecution.analyzed.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
    def long(m: Map[String, Any], name: String): Long = m(name).asInstanceOf[Long]
    try {
      // the one JSON parse of the run: every branch of the mapping reads it
      val (parsed, read) = materialize(bronze, count(lit(1)).as("read"))
      val recordsRead = long(read, "read")
      // empty day (no spider ran): no-op, matching the reference's
      // early-return on an empty bronze read — existing silver untouched.
      if (recordsRead == 0) return EtlStats(0, 0, 0, 0, 0, 0.0)
      val (split, splitCounts) = materialize(flagWitnesses(applySchemaMapping(parsed)),
        count(lit(1)).as("mapped"), count(when(ValidRecord, lit(1))).as("valid"))
      release(parsed)
      val recordsValid = long(splitCounts, "valid")
      val recordsInvalid = long(splitCounts, "mapped") - recordsValid
      val valid = split.filter(ValidRecord)
      // quality failures warn, not abort (reference behavior)
      runQualityChecks(valid).filterNot(_.passed).foreach { r =>
        System.err.println(s"[silver][quality] FAILED ${r.name}: ${r.details}")
      }
      val (deduped, dedupCounts) = materialize(dedupLatest(valid), count(lit(1)).as("deduped"))
      // the _has_valid_* witness flags from validate() are internal to the
      // run (quality accounting); they must not leak past the declared
      // silver schema into the persisted table.
      val enriched = checkpoint(enrich(standardize(fillAndRemoveOutliers(deduped)), clock)
        .drop("_has_valid_coords", "_has_valid_price"))
      release(deduped)
      // an aggregate, not an observed metric: observed partial sums merge
      // in task-completion order, and a double sum must not depend on it
      val avgScore = enriched.agg(avg(col("data_completeness_score"))).head
        .getAs[Any](0) match { case d: java.lang.Double => d.doubleValue; case _ => 0.0 }
      val written = layout.merge(spark, enriched, cfg.silverPath,
        asOfDate = to_date(clock).cast("string"))
      // step 10: quarantine + run-metadata sinks (:997-1041)
      if (recordsInvalid > 0)
        writeQuarantine(split.filter(!ValidRecord), cfg.quarantinePath, clock)
      val stats = EtlStats(recordsRead, recordsValid, recordsInvalid,
        recordsValid - long(dedupCounts, "deduped"), written, avgScore)
      writeRunMetadata(spark, cfg.runId, cfg.startDate, stats, cfg.metadataPath)
      stats
    } finally {
      // repeated runs in one session (the streaming twin, spec suites)
      // must not accumulate executor blocks across days
      held.foreach(release)
    }
  }

  /** Quarantine sink (silver_etl_script.py:997-1014): failed-validation
    * rows append, partitioned by spider, stamped with reason + clock. */
  def writeQuarantine(invalid: DataFrame, path: String,
                      clock: Column = current_timestamp()): Unit =
    invalid
      .withColumn("quarantine_timestamp", clock)
      .withColumn("quarantine_reason", lit("Failed validation rules"))
      .write.mode(SaveMode.Append).partitionBy("spider_name")
      .parquet(path)

  /** Run-metadata sink (silver_etl_script.py:1019-1041): one audit row
    * per pipeline run, appended. */
  def writeRunMetadata(spark: SparkSession, runId: String, startDate: String,
                       stats: EtlStats, path: String): Unit = {
    import spark.implicits._
    Seq((runId, startDate, "bronze", "silver",
      Mappings.ProjectSpiders.mkString(","), stats.recordsRead,
      stats.recordsValid, stats.recordsInvalid, stats.recordsWritten,
      stats.duplicatesRemoved, stats.avgCompletenessScore, "SUCCESS"))
      .toDF("pipeline_run_id", "execution_date", "source_layer", "target_layer",
        "spiders", "records_read", "records_valid", "records_invalid",
        "records_written", "duplicates_removed", "avg_completeness_score",
        "status")
      .write.mode(SaveMode.Append).parquet(path)
  }
}
