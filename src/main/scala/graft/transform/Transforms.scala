package graft.transform

import scala.collection.immutable.ListMap
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.Mappings

/** Pure DataFrame/Column combinators covering the reference's transform
  * catalog (transformation_utils.py — cited per function). Everything is
  * built-in-function based (whole-stage codegen'd); no UDFs.
  *
  * Each transform the silver stages use is a Column builder; its
  * DataFrame form applies it as ONE projection. Stages compose the
  * builders through [[Assignments]], so a stage is one projection, not
  * a `withColumn` chain whose every link re-analyzes the growing plan.
  */
object Transforms {

  /** Column assignments folded into ONE projection. Reading a name yields
    * its latest assignment (else the input column), so a sequence of
    * `set`s means what the same `withColumn` chain means; `result` is a
    * single `withColumns`: existing names keep their position and new
    * names append in first-assignment order, as the chain would. */
  final class Assignments(df: DataFrame) {
    private val present = df.columns.toSet
    private val assigned = mutable.LinkedHashMap[String, Column]()
    def has(name: String): Boolean = assigned.contains(name) || present(name)
    def apply(name: String): Column = assigned.getOrElse(name, col(name))
    def set(name: String, value: Column): this.type = { assigned(name) = value; this }
    def setAll(values: Seq[(String, Column)]): this.type = { values.foreach { case (n, v) => set(n, v) }; this }
    def result: DataFrame =
      if (assigned.isEmpty) df else df.withColumns(ListMap(assigned.toSeq: _*))
  }

  /** `df` with every assignment applied in one projection. */
  def assign(df: DataFrame, values: Seq[(String, Column)]): DataFrame =
    new Assignments(df).setAll(values).result

  /** `f` applied in turn to each listed column present in `df`, in one
    * projection (a name listed twice is rewritten twice, as a chain would). */
  private def rewrite(df: DataFrame, cols: Seq[String])(f: Column => Column): DataFrame = {
    val a = new Assignments(df)
    cols.foreach(c => if (a.has(c)) a.set(c, f(a(c))))
    a.result
  }

  /** F2: phone → digits-only, must match Vietnamese ^0\d{9,10}$ else ""
    * (transformation_utils.py:23-49). */
  def phoneNumber(c: Column): Column = {
    val digits = when(c.isNotNull, regexp_replace(c, "[^\\d]", "")).otherwise(lit(""))
    when(digits.rlike("^0\\d{9,10}$"), digits).otherwise(lit(""))
  }

  def standardizePhoneNumbers(df: DataFrame, phoneCol: String): DataFrame =
    df.withColumn(phoneCol, phoneNumber(col(phoneCol)))

  /** F3: email → lower/trim, validated else "" (transformation_utils.py:52-76). */
  def email(c: Column): Column = {
    val lowered = when(c.isNotNull, lower(trim(c))).otherwise(lit(""))
    when(lowered.rlike("^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$"), lowered)
      .otherwise(lit(""))
  }

  def standardizeEmails(df: DataFrame, emailCol: String): DataFrame =
    df.withColumn(emailCol, email(col(emailCol)))

  /** F1: strip HTML tags, decode entity table in order, collapse whitespace
    * (transformation_utils.py:79-173). The entity pass is a single fold of
    * regexp_replace — same output, one projection. */
  def htmlCleaned(c: Column): Column = {
    val noTags = regexp_replace(
      regexp_replace(c, "<br\\s*/?>", " "), "<[^>]+>", " ")
    val decoded = Mappings.HtmlEntities.foldLeft(noTags) {
      case (e, (pat, rep)) => regexp_replace(e, pat, rep)
    }
    when(c.isNotNull, trim(regexp_replace(decoded, "\\s+", " "))).otherwise(c)
  }

  def cleanHtmlTags(df: DataFrame, textCols: Seq[String]): DataFrame =
    rewrite(df, textCols)(htmlCleaned)

  /** F4: trim + collapse internal whitespace (transformation_utils.py:176-197). */
  def normalizedText(c: Column): Column =
    when(c.isNotNull, regexp_replace(trim(c), "\\s+", " ")).otherwise(c)

  def normalizeText(df: DataFrame, textCols: Seq[String]): DataFrame =
    rewrite(df, textCols)(normalizedText)

  /** F5: strip non-[\d.] and cast (transformation_utils.py:200-217). */
  def extractNumeric(df: DataFrame, src: String, target: String): DataFrame =
    df.withColumn(target,
      regexp_replace(col(src), "[^\\d.]", "").cast(DoubleType))

  /** F6: city-name standardization when()-ladder
    * (transformation_utils.py:220-254). The reference folds otherwise()
    * chains; a lookup-join is the at-scale alternative (see GoldEtl). */
  def cityName(c: Column): Column =
    Mappings.CityMappings.foldLeft(c) {
      case (acc, (vn, en)) => when(trim(c) === vn, lit(en)).otherwise(acc)
    }

  def standardizeCityNames(df: DataFrame, cityCol: String): DataFrame =
    df.withColumn(cityCol, cityName(col(cityCol)))

  /** F7: Vietnamese price-string parser with unit multipliers
    * (transformation_utils.py:257-288). */
  def parsePriceStrings(df: DataFrame, priceCol: String,
                        unitCol: String = "price_unit"): DataFrame = {
    val num = regexp_replace(col(priceCol), "[^\\d.]", "").cast(DoubleType)
    df.withColumn(priceCol,
        when(col(priceCol).rlike("tỷ|ty|billion"), num * 1e9)
          .when(col(priceCol).rlike("triệu|tr|million"), num * 1e6)
          .when(col(priceCol).rlike("nghìn|ngàn|k"), num * 1e3)
          .otherwise(num))
      .withColumn(unitCol, lit("VND"))
  }

  /** M6: price / area with null+zero guard (transformation_utils.py:290-315). */
  def calculatePricePerSqm(df: DataFrame, priceCol: String = "price",
                           areaCol: String = "total_area",
                           target: String = "price_per_sqm"): DataFrame =
    df.withColumn(target,
      when(col(priceCol).isNotNull && col(areaCol).isNotNull && col(areaCol) > 0,
        col(priceCol) / col(areaCol)).otherwise(lit(null)))

  /** D2: multi-format date standardizer — coalesce of to_timestamp attempts
    * (transformation_utils.py:380-409). */
  def standardizeDates(df: DataFrame, dateCols: Seq[String]): DataFrame =
    dateCols.filter(df.columns.contains).foldLeft(df) { (acc, c) =>
      acc.withColumn(c, coalesce(
        to_timestamp(col(c), "yyyy-MM-dd'T'HH:mm:ss"),
        to_timestamp(col(c), "yyyy-MM-dd HH:mm:ss"),
        to_timestamp(col(c), "dd/MM/yyyy"),
        to_timestamp(col(c), "yyyy-MM-dd"),
        to_timestamp(col(c))))
    }

  /** D3: dual-format date — a string column holding either epoch millis
    * (casts to long, > 1e12) or "yyyy-MM-dd" (silver_etl_script.py:363-389). */
  def parseDualFormatDate(c: Column): Column =
    when(c.isNotNull,
      when(c.cast("long").isNotNull && c.cast("long") > 1000000000000L,
        to_date(from_unixtime(c.cast("long") / 1000)).cast("timestamp"))
        .otherwise(to_timestamp(c, "yyyy-MM-dd")))
      .otherwise(lit(null).cast("timestamp"))

  /** F10: sha2 surrogate key over concat_ws
    * (transformation_utils.py:411-431). */
  def addHashId(df: DataFrame, cols: Seq[String],
                target: String = "hash_id"): DataFrame =
    df.withColumn(target, sha2(concat_ws("_", cols.map(col): _*), 256))

  /** M11: price banding (transformation_utils.py:433-456). */
  def categorizePriceRange(df: DataFrame, priceCol: String = "avg_selling_price",
                           target: String = "price_category"): DataFrame =
    df.withColumn(target,
      when(col(priceCol) < 1e9, "Under 1B")
        .when(col(priceCol) < 3e9, "1B-3B")
        .when(col(priceCol) < 5e9, "3B-5B")
        .when(col(priceCol) < 1e10, "5B-10B")
        .when(col(priceCol) >= 1e10, "Over 10B")
        .otherwise("Unknown"))

  /** M3: (min+max)/2 with one-sided fallbacks, for selling/unit/rent price
    * (transformation_utils.py:459-514; silver_etl_script.py:770-804). */
  private def avgOf(minC: String, maxC: String): Column =
    when(col(minC).isNotNull && col(maxC).isNotNull, (col(minC) + col(maxC)) / 2)
      .when(col(minC).isNotNull, col(minC))
      .when(col(maxC).isNotNull, col(maxC))
      .otherwise(lit(null))

  def calculateAveragePrices(df: DataFrame): DataFrame =
    df.withColumn("avg_selling_price", avgOf("min_selling_price", "max_selling_price"))
      .withColumn("avg_unit_price", avgOf("min_unit_price", "max_unit_price"))
      .withColumn("avg_rent_price", avgOf("min_rent_price", "max_rent_price"))

  /** M4: max−min ranges (transformation_utils.py:517-545). */
  def calculatePriceRanges(df: DataFrame): DataFrame =
    df.withColumn("price_range",
        when(col("min_selling_price").isNotNull && col("max_selling_price").isNotNull,
          col("max_selling_price") - col("min_selling_price")).otherwise(lit(null)))
      .withColumn("area_range",
        when(col("min_area").isNotNull && col("max_area").isNotNull,
          col("max_area") - col("min_area")).otherwise(lit(null)))

  /** F8: amenity keyword flags from description
    * (transformation_utils.py:571-602). */
  def projectFeatures(desc: Column): Seq[(String, Column)] =
    Mappings.AmenityPatterns.map { case (name, pat) =>
      name -> when(desc.rlike(pat), lit(true)).otherwise(lit(false))
    }

  def extractProjectFeatures(df: DataFrame,
                             descCol: String = "description"): DataFrame =
    assign(df, projectFeatures(col(descCol)))

  /** N5: min/max bedroom = first/last of insight_by_bedroom
    * (transformation_utils.py:604-630). */
  def bedroomRange(insight: Column): Seq[(String, Column)] = {
    def bedrooms(i: Int) = when(insight.isNotNull && size(insight) > 0,
      element_at(insight, i).getField("number_of_bedroom").cast(IntegerType))
      .otherwise(lit(null))
    Seq("min_bedroom" -> bedrooms(1), "max_bedroom" -> bedrooms(-1))
  }

  def extractBedroomRanges(df: DataFrame): DataFrame =
    if (!df.columns.contains("insight_by_bedroom")) df
    else assign(df, bedroomRange(col("insight_by_bedroom")))

  /** N1: quality_indexes struct-array → name array
    * (transformation_utils.py:633-653). */
  def qualityIndexNames(c: Column): Column =
    when(c.isNotNull, transform(c, _.getField("name"))).otherwise(lit(null))

  def extractQualityIndexNames(df: DataFrame): DataFrame =
    if (!df.columns.contains("quality_indexes")) df
    else df.withColumn("quality_indexes", qualityIndexNames(col("quality_indexes")))

  /** N3: flatten album images (transformation_utils.py:655-676). */
  def extractAlbumImages(df: DataFrame): DataFrame =
    if (!df.columns.contains("albums")) df
    else df.withColumn("images",
      when(col("albums").isNotNull && size(col("albums")) > 0,
        expr("flatten(transform(albums, x -> x.images))")).otherwise(lit(null)))

  /** N6: first element of int arrays (transformation_utils.py:678-700). */
  def firstOfArray(c: Column): Column =
    when(c.isNotNull && size(c) > 0, element_at(c, 1).cast(IntegerType))
      .otherwise(lit(null))

  def extractFirstFromArray(df: DataFrame,
                            fieldMappings: Seq[(String, String)]): DataFrame = {
    val a = new Assignments(df)
    fieldMappings.foreach { case (target, src) =>
      if (a.has(src)) a.set(target, firstOfArray(a(src)))
    }
    a.result
  }

  /** N8: ward/district/city ← x.translation[0].name
    * (transformation_utils.py:702-751). Only applied when the base column
    * is a complex type, like the reference. */
  def translationName(c: Column): Column =
    when(c.isNotNull, c.getField("translation").getItem(0).getField("name"))
      .otherwise(lit(null))

  def extractNestedTranslation(df: DataFrame, fields: Seq[String]): DataFrame =
    assign(df, fields.collect {
      case f if df.schema.find(_.name == f).exists(_.dataType.isInstanceOf[StructType]) =>
        f -> translationName(col(f))
    })

  /** F9: Chotot "lat,lng" geo string → two doubles
    * (transformation_utils.py:753-780). */
  def geoCoordinates(geo: Column): Seq[(String, Column)] = {
    def part(i: Int) = when(geo.isNotNull && geo.contains(","),
      split(geo, ",").getItem(i).cast(DoubleType)).otherwise(lit(null))
    Seq("latitude" -> part(0), "longitude" -> part(1))
  }

  def splitGeoCoordinates(df: DataFrame, geoCol: String = "geo"): DataFrame =
    if (!df.columns.contains(geoCol)) df
    else assign(df, geoCoordinates(col(geoCol)))

  /** N7: Meeyproject GeoJSON [lon, lat] → columns
    * (transformation_utils.py:782-809). */
  def meeyLocation(location: Column): Seq[(String, Column)] = {
    val coords = location.getField("coordinates")
    def coord(i: Int) = when(coords.isNotNull && size(coords) >= 2,
      element_at(coords, i).cast(DoubleType)).otherwise(lit(null))
    Seq("longitude" -> coord(1), "latitude" -> coord(2))
  }

  def extractMeeyprojectLocation(df: DataFrame): DataFrame =
    if (!df.columns.contains("location")) df
    else assign(df, meeyLocation(col("location")))

  /** N12: coerce a column of type `dt` to array<string>: struct-arrays
    * project name > value > key > first string field; plain strings
    * parse as JSON array when "["-prefixed else wrap
    * (silver_etl_script.py:407-475). */
  def stringArray(c: Column, dt: DataType): Column = {
    val target = ArrayType(StringType)
    dt match {
      case ArrayType(st: StructType, _) =>
        val names = st.fields.map(_.name)
        Seq("name", "value", "key").find(names.contains)
          .orElse(st.fields.find(_.dataType == StringType).map(_.name)) match {
          case Some(f) =>
            when(c.isNotNull, transform(c, _.getField(f))).otherwise(lit(null).cast(target))
          case None => lit(null).cast(target)
        }
      case _: ArrayType => c.cast(target)
      case StringType =>
        when(c.isNotNull && c =!= "",
          when(c.startsWith("["), from_json(c, target)).otherwise(array(c)))
          .otherwise(lit(null).cast(target))
      case _ => lit(null).cast(target)
    }
  }

  /** [[stringArray]] on `field` of the live schema; absent is a no-op. */
  def coerceToStringArray(df: DataFrame, field: String): DataFrame =
    df.schema.find(_.name == field).fold(df)(f =>
      df.withColumn(field, stringArray(col(field), f.dataType)))

  /** PII redaction for training-data curation: URLs, emails, and
    * Vietnamese-style phone numbers → placeholder tokens. URL first (an
    * email-looking userinfo inside a URL must redact as part of the URL),
    * then email, then phone. Patterns are RE2-compatible (no lookaround /
    * backrefs) so external engines reproduce them exactly; codegen'd
    * regexp_replace, one pass per pattern. */
  def redactPii(df: DataFrame, textCols: Seq[String]): DataFrame =
    textCols.filter(df.columns.contains).foldLeft(df) { (acc, c) =>
      val noUrl = regexp_replace(col(c), "https?://[^\\s]+", "<URL>")
      val noEmail = regexp_replace(noUrl,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
      val noPhone = regexp_replace(noEmail,
        "(\\+84|0)[0-9]{9,10}", "<PHONE>")
      acc.withColumn(c,
        when(col(c).isNotNull, noPhone).otherwise(col(c)))
    }
}
