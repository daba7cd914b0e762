package graft.schema

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Unified layer schemas (reference: schema_config.py:14-126,
  * gold_ml_schema.py:15-114). Dates are deliberately stored as yyyy-MM-dd
  * STRINGS in silver/gold — a reference behavior we preserve
  * (schema_config.py:86-91,110-120; silver_etl_script.py:892-908). */
object Schemas {

  /** Pad any declared silver column absent from `df` with a typed null —
    * the ONE definition of "conform to the silver schema", shared by the
    * silver mapping stage and the gold reader (silver only materializes
    * columns its bronze day carried). */
  def conformToSilver(df: DataFrame): DataFrame = {
    val missing = Silver.fields.toSeq.filterNot(f => df.columns.contains(f.name))
    if (missing.isEmpty) df
    else graft.transform.Transforms.assign(df, missing.map(f => f.name -> lit(null).cast(f.dataType)))
  }

  val ApartmentPriceStruct: StructType = StructType(Seq(
    StructField("number_of_bedroom", IntegerType),
    StructField("min_price", DoubleType),
    StructField("max_price", DoubleType),
    StructField("min_area", DoubleType),
    StructField("max_area", DoubleType)))

  /** 74-field unified silver schema (schema_config.py:14-126). */
  val Silver: StructType = {
    def s(n: String, nullable: Boolean = true) = StructField(n, StringType, nullable)
    def d(n: String) = StructField(n, DoubleType)
    def i(n: String) = StructField(n, IntegerType)
    def arr(n: String) = StructField(n, ArrayType(StringType))
    StructType(Seq(
      // primary keys
      s("universal_id", nullable = false), s("source_id", nullable = false),
      s("spider_name", nullable = false),
      // basic info
      s("project_name"), s("project_type"), s("status"), s("description"), s("segment"),
      // location
      s("address"), s("full_address"), s("street_name"), s("ward"), s("district"),
      s("city"), s("province"), d("latitude"), d("longitude"),
      // property details
      d("total_area"), s("area_unit"), d("construction_area"), i("number_of_blocks"),
      i("total_property"), s("unit_total"), i("number_of_floors"), i("total_floor"),
      i("number_of_basement"), i("number_of_elevators"), d("green_density"),
      d("construction_density"), s("swimming_pool_density"), i("min_prop_per_floor"),
      i("max_prop_per_floor"),
      // bedroom/area insights
      i("min_bedroom"), i("max_bedroom"), i("min_bathroom"), i("max_bathroom"),
      d("min_area"), d("max_area"),
      // pricing
      d("min_selling_price"), d("max_selling_price"), d("min_unit_price"),
      d("max_unit_price"), d("min_rent_price"), d("max_rent_price"), s("price_unit"),
      // apartment pricing by bedroom
      StructField("apartment_prices", ArrayType(ApartmentPriceStruct)),
      // developer / investor
      s("investor_id"), s("investor_name"), s("developer_name"),
      // dates (strings, see header note)
      s("handover_date_from"), s("handover_date"), s("construction_start_date"),
      s("construction_end_date"), s("release_year"),
      // utilities & facilities
      arr("facilities"), arr("utilities_internal"), arr("utilities_external"),
      arr("quality_indexes"),
      // infrastructure grades
      s("trans_grade"), s("infra_grade"), s("school_grade"),
      // media
      arr("images"), arr("videos"), s("master_plan_url"), s("web_url"),
      // metadata & audit
      s("record_key"), d("data_completeness_score"),
      s("ingested_at_utc", nullable = false), s("silver_processed_at", nullable = false),
      s("silver_version", nullable = false),
      // SCD2
      StructField("is_current", BooleanType, nullable = false),
      s("valid_from", nullable = false), s("valid_to"),
      // partition columns
      s("ingestion_year", nullable = false), s("ingestion_month", nullable = false),
      s("ingestion_date", nullable = false)))
  }

  /** Gold feature selection order (gold_ml_etl.py:391-432). */
  val GoldFeatureColumns: Seq[String] = Seq(
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
    "year", "quarter", "month",
    "data_completeness_score", "quality_tier", "is_training_ready",
    "price_imputed", "coordinates_imputed")

  /** Quality SLO thresholds (silver_etl_script.py:46-50,
    * data_quality_checks.py:281-332). */
  object Thresholds {
    val minCompletenessScore = 0.5
    val maxInvalidPercentage = 0.10
    val maxDuplicatePercentage = 0.05
    val nullThreshold = 0.3
    val vietnamLatRange: (Double, Double) = (8.0, 24.0)
    val vietnamLonRange: (Double, Double) = (102.0, 110.0)
    val reasonablePrice: (Double, Double) = (1e8, 1e11)
    val reasonableArea: (Double, Double) = (10.0, 1e6)
    val emailPattern = "^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phonePattern = "^0\\d{9,10}$"
  }
}
