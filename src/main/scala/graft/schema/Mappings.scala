package graft.schema

/** Config-driven mapping layer (reference: schema_config.py:133-453,
  * gold_ml_schema.py:181-220, transformation_utils.py:91-138,231-245,584-591,
  * data_enhancement.py:192-260). Pure data — the behavior contract of the
  * three bronze sources and the standardization/encoding rules. */
object Mappings {

  /** target silver field -> source field, per spider (schema_config.py:133-227). */
  val ChototMapping: Seq[(String, String)] = Seq(
    "source_id" -> "project_oid", "project_name" -> "project_name",
    "project_code" -> "alias", "project_type" -> "type_name",
    "status" -> "process", "transaction_status" -> "transaction_status",
    "description" -> "introduction", "address" -> "address",
    "full_address" -> "full_address", "street_name" -> "street_name",
    "ward" -> "ward_name", "district" -> "area_name",
    "city" -> "region_name", "province" -> "region_name",
    "total_area" -> "area_total", "construction_area" -> "area_construction",
    "unit_total" -> "unit_total",
    "min_selling_price" -> "sell_price_lower", "max_selling_price" -> "sell_price_higher",
    "min_unit_price" -> "price_lowest_per_m2", "max_unit_price" -> "price_highest_per_m2",
    "min_rent_price" -> "rent_price_lower", "max_rent_price" -> "rent_price_higher",
    "investor_id" -> "investor_id", "investor_name" -> "investor_name",
    "construction_start_date" -> "start_construction",
    "facilities" -> "facilities", "images" -> "project_images", "web_url" -> "web_url")

  val MeeyprojectMapping: Seq[(String, String)] = Seq(
    "source_id" -> "_id", "project_name" -> "name", "project_code" -> "tradeName",
    "project_slug" -> "slug", "project_type" -> "projectTypes",
    "description" -> "description", "address" -> "address",
    "total_area" -> "totalArea", "total_property" -> "totalApartment",
    "min_selling_price" -> "lowestPriceByProduct",
    "max_selling_price" -> "highestPriceByProduct",
    "min_unit_price" -> "lowestPriceByM2", "max_unit_price" -> "highestPriceByM2",
    "construction_density" -> "buildingDensity", "number_of_blocks" -> "totalBuilding",
    "total_floor" -> "totalFloor", "images" -> "images", "videos" -> "videos")

  val OnehousingMapping: Seq[(String, String)] = Seq(
    "source_id" -> "id", "project_name" -> "name", "project_code" -> "code",
    "project_slug" -> "slug", "description" -> "description", "address" -> "address",
    "ward" -> "ward", "district" -> "district", "city" -> "city",
    "province" -> "province", "latitude" -> "lat_cdnt", "longitude" -> "long_cdnt",
    "total_area" -> "total_area", "number_of_blocks" -> "blocks",
    "total_property" -> "total_property", "number_of_floors" -> "number_living_floor",
    "green_density" -> "green_dens", "construction_density" -> "cstn_dens",
    "swimming_pool_density" -> "swim_dens",
    "min_prop_per_floor" -> "min_prop_per_floor",
    "max_prop_per_floor" -> "max_prop_per_floor",
    "min_selling_price" -> "min_selling_price",
    "max_selling_price" -> "max_selling_price",
    "min_unit_price" -> "min_unit_price", "max_unit_price" -> "max_unit_price",
    "apartment_prices" -> "insight_by_bedroom", "developer_name" -> "developer_name",
    "handover_date_from" -> "handover_date_from",
    "construction_start_date" -> "construction_start_date_from",
    "trans_grade" -> "trans_grade", "infra_grade" -> "infra_grade",
    "school_grade" -> "school_grade", "master_plan_url" -> "master_plan",
    "quality_indexes" -> "quality_indexes", "images" -> "albums", "videos" -> "videos")

  val SourceMappings: Map[String, Seq[(String, String)]] = Map(
    "chotot_api" -> ChototMapping,
    "meeyproject_api" -> MeeyprojectMapping,
    "onehousing_api" -> OnehousingMapping)

  val ProjectSpiders: Seq[String] =
    Seq("chotot_api", "meeyproject_api", "onehousing_api")

  /** M13: apply the declared cast table to whichever of its columns are
    * present, in one projection — the casts SilverEtl.mapSource applies
    * to every source (null on unparseable values; ANSI off). */
  def applyTypeConversions(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.transform.Transforms.assign(df, TypeConversions.collect {
      case (f, t) if df.columns.contains(f) => f -> org.apache.spark.sql.functions.col(f).cast(t)
    })

  /** field -> spark cast type (schema_config.py:241-268). */
  val TypeConversions: Seq[(String, String)] = Seq(
    "min_selling_price" -> "double", "max_selling_price" -> "double",
    "min_unit_price" -> "double", "max_unit_price" -> "double",
    "min_rent_price" -> "double", "max_rent_price" -> "double",
    "total_area" -> "double", "construction_area" -> "double",
    "green_density" -> "double", "construction_density" -> "double",
    "min_area" -> "double", "max_area" -> "double",
    "latitude" -> "double", "longitude" -> "double",
    "number_of_blocks" -> "integer", "total_property" -> "integer",
    "number_of_floors" -> "integer", "total_floor" -> "integer",
    "number_of_basement" -> "integer", "number_of_elevators" -> "integer",
    "min_bedroom" -> "integer", "max_bedroom" -> "integer",
    "min_bathroom" -> "integer", "max_bathroom" -> "integer",
    "min_prop_per_floor" -> "integer", "max_prop_per_floor" -> "integer")

  /** defaults for missing fields (schema_config.py:331-343). */
  val DefaultValues: Map[String, String] = Map(
    "project_type" -> "UNKNOWN", "status" -> "UNKNOWN",
    "transaction_status" -> "UNKNOWN", "area_unit" -> "m²",
    "price_unit" -> "VND", "description" -> "", "address" -> "",
    "rank" -> "UNKNOWN", "trans_grade" -> "UNKNOWN",
    "infra_grade" -> "UNKNOWN", "school_grade" -> "UNKNOWN")

  /** Vietnamese -> English city names (transformation_utils.py:231-245). */
  val CityMappings: Seq[(String, String)] = Seq(
    "Hồ Chí Minh" -> "Ho Chi Minh City", "Tp. Hồ Chí Minh" -> "Ho Chi Minh City",
    "TPHCM" -> "Ho Chi Minh City", "Sài Gòn" -> "Ho Chi Minh City",
    "Hà Nội" -> "Hanoi", "TP Hà Nội" -> "Hanoi",
    "Đà Nẵng" -> "Da Nang", "TP Đà Nẵng" -> "Da Nang",
    "Cần Thơ" -> "Can Tho", "Hải Phòng" -> "Hai Phong",
    "Biên Hòa" -> "Bien Hoa", "Nha Trang" -> "Nha Trang",
    "Vũng Tàu" -> "Vung Tau")

  /** HTML entity decode table (transformation_utils.py:91-138) — applied in
    * order after tag-stripping. */
  val HtmlEntities: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&quot;" -> "\"", "&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">",
    "&aacute;" -> "á", "&agrave;" -> "à", "&atilde;" -> "ã", "&acirc;" -> "â",
    "&Acirc;" -> "Â", "&eacute;" -> "é", "&egrave;" -> "è", "&etilde;" -> "ẽ",
    "&ecirc;" -> "ê", "&Ecirc;" -> "Ê", "&iacute;" -> "í", "&igrave;" -> "ì",
    "&itilde;" -> "ĩ", "&oacute;" -> "ó", "&ograve;" -> "ò", "&otilde;" -> "õ",
    "&ocirc;" -> "ô", "&Ocirc;" -> "Ô", "&uacute;" -> "ú", "&ugrave;" -> "ù",
    "&utilde;" -> "ũ", "&yacute;" -> "ý", "&ygrave;" -> "ỳ",
    "&Aacute;" -> "Á", "&Agrave;" -> "À", "&Eacute;" -> "É", "&Egrave;" -> "È",
    "&Iacute;" -> "Í", "&Igrave;" -> "Ì", "&Oacute;" -> "Ó", "&Ograve;" -> "Ò",
    "&Uacute;" -> "Ú", "&Ugrave;" -> "Ù")

  /** amenity keyword flags (transformation_utils.py:584-591). */
  val AmenityPatterns: Seq[(String, String)] = Seq(
    "has_swimming_pool" -> "(bể bơi|hồ bơi|swimming pool)",
    "has_gym" -> "(phòng gym|gym|fitness)",
    "has_parking" -> "(bãi đỗ xe|chỗ đậu xe|parking)",
    "has_garden" -> "(vườn|sân vườn|garden)",
    "has_security" -> "(bảo vệ|an ninh|security)",
    "has_playground" -> "(khu vui chơi|sân chơi|playground)")

  /** categorical encodings (gold_ml_schema.py:184-220). */
  val CityEncoding: Seq[(String, Int)] = Seq(
    "Hanoi" -> 1, "Ho Chi Minh" -> 2, "Da Nang" -> 3, "Hai Phong" -> 4,
    "Can Tho" -> 5, "Bien Hoa" -> 6, "Vung Tau" -> 7, "Nha Trang" -> 8,
    "Hue" -> 9, "Buon Ma Thuot" -> 10, "UNKNOWN" -> 0)

  val StatusEncoding: Seq[(String, Int)] = Seq(
    "handedOver" -> 1, "selling" -> 2, "comingSoon" -> 3,
    "underConstruction" -> 4, "UNKNOWN" -> 0)

  val GradeEncoding: Seq[(String, Int)] = Seq(
    "Rất thuận tiện" -> 5, "Rất tốt" -> 5, "Thuận tiện" -> 4, "Tốt" -> 4,
    "Trung bình" -> 3, "Khá" -> 3, "Kém" -> 2, "Rất kém" -> 1, "UNKNOWN" -> 0)

  /** district centroids (city, district) -> (lat, lon)
    * (data_enhancement.py:192-260). Joined (not UDF'd) after the same
    * prefix-strip normalization the reference applies. */
  val DistrictCentroids: Seq[(String, String, Double, Double)] = Seq(
    ("Hanoi", "Ba Dinh", 21.0333, 105.8189), ("Hanoi", "Ba Đình", 21.0333, 105.8189),
    ("Hanoi", "Hoan Kiem", 21.0285, 105.8542), ("Hanoi", "Hoàn Kiếm", 21.0285, 105.8542),
    ("Hanoi", "Dong Da", 21.0167, 105.8250), ("Hanoi", "Đống Đa", 21.0167, 105.8250),
    ("Hanoi", "Hai Ba Trung", 21.0069, 105.8511), ("Hanoi", "Hai Bà Trưng", 21.0069, 105.8511),
    ("Hanoi", "Cau Giay", 21.0333, 105.7944), ("Hanoi", "Cầu Giấy", 21.0333, 105.7944),
    ("Hanoi", "Thanh Xuan", 20.9950, 105.8050), ("Hanoi", "Thanh Xuân", 20.9950, 105.8050),
    ("Hanoi", "Tay Ho", 21.0750, 105.8200), ("Hanoi", "Tây Hồ", 21.0750, 105.8200),
    ("Hanoi", "Long Bien", 21.0364, 105.8833), ("Hanoi", "Long Biên", 21.0364, 105.8833),
    ("Hanoi", "Hoang Mai", 20.9750, 105.8500), ("Hanoi", "Hoàng Mai", 20.9750, 105.8500),
    ("Hanoi", "Ha Dong", 20.9722, 105.7750), ("Hanoi", "Hà Đông", 20.9722, 105.7750),
    ("Hanoi", "Nam Tu Liem", 21.0167, 105.7500), ("Hanoi", "Nam Từ Liêm", 21.0167, 105.7500),
    ("Hanoi", "Bac Tu Liem", 21.0667, 105.7500), ("Hanoi", "Bắc Từ Liêm", 21.0667, 105.7500),
    ("Ho Chi Minh", "District 1", 10.7769, 106.7009), ("Ho Chi Minh", "Quận 1", 10.7769, 106.7009),
    ("Ho Chi Minh", "District 2", 10.7833, 106.7500), ("Ho Chi Minh", "Quận 2", 10.7833, 106.7500),
    ("Ho Chi Minh", "District 3", 10.7833, 106.6833), ("Ho Chi Minh", "Quận 3", 10.7833, 106.6833),
    ("Ho Chi Minh", "District 4", 10.7583, 106.7000), ("Ho Chi Minh", "Quận 4", 10.7583, 106.7000),
    ("Ho Chi Minh", "District 5", 10.7583, 106.6667), ("Ho Chi Minh", "Quận 5", 10.7583, 106.6667),
    ("Ho Chi Minh", "District 7", 10.7333, 106.7167), ("Ho Chi Minh", "Quận 7", 10.7333, 106.7167),
    ("Ho Chi Minh", "District 10", 10.7750, 106.6667), ("Ho Chi Minh", "Quận 10", 10.7750, 106.6667),
    ("Ho Chi Minh", "Binh Thanh", 10.8083, 106.7000), ("Ho Chi Minh", "Bình Thạnh", 10.8083, 106.7000),
    ("Ho Chi Minh", "Phu Nhuan", 10.7972, 106.6833), ("Ho Chi Minh", "Phú Nhuận", 10.7972, 106.6833),
    ("Ho Chi Minh", "Tan Binh", 10.8000, 106.6500), ("Ho Chi Minh", "Tân Bình", 10.8000, 106.6500),
    ("Ho Chi Minh", "Go Vap", 10.8333, 106.6667), ("Ho Chi Minh", "Gò Vấp", 10.8333, 106.6667),
    ("Ho Chi Minh", "Thu Duc", 10.8500, 106.7500), ("Ho Chi Minh", "Thủ Đức", 10.8500, 106.7500),
    ("Hai Phong", "Hong Bang", 20.8525, 106.6781), ("Hai Phong", "Hồng Bàng", 20.8525, 106.6781),
    ("Hai Phong", "Le Chan", 20.8450, 106.6900), ("Hai Phong", "Lê Chân", 20.8450, 106.6900),
    ("Hai Phong", "Ngo Quyen", 20.8600, 106.6850), ("Hai Phong", "Ngô Quyền", 20.8600, 106.6850),
    ("Da Nang", "Hai Chau", 16.0544, 108.2022), ("Da Nang", "Hải Châu", 16.0544, 108.2022),
    ("Da Nang", "Thanh Khe", 16.0611, 108.1667), ("Da Nang", "Thanh Khê", 16.0611, 108.1667),
    ("Da Nang", "Son Tra", 16.0833, 108.2500), ("Da Nang", "Sơn Trà", 16.0833, 108.2500))

  /** National average unit-price fallback, VND/m² (data_enhancement.py:91). */
  val NationalAvgUnitPrice: Double = 8e7
}
