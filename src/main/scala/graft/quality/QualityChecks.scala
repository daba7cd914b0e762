package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Data-quality checks (reference: data_quality_checks.py:10-278).
  *
  * Scale note: where the reference issues filter().count() PAIRS per check
  * (two scans each), every check here is ONE conditional aggregation —
  * a single pass with map-side partial aggregation, which is the shape
  * that survives 100 TB. Results are plain case classes.
  */
object QualityChecks {

  final case class CheckResult(name: String, passed: Boolean,
                               details: Map[String, String])

  /** A check as the aggregate columns it needs plus how it reads its
    * results back from the aggregate row, so [[evaluate]] can answer any
    * number of checks with ONE aggregate execution. Column names are
    * prefixed per check and never clash. */
  final case class Probe(aggs: Seq[Column], read: Row => Seq[CheckResult])

  private val NoProbe = Probe(Nil, _ => Nil)

  /** Every probe's aggregates in one execution over `df`; the results
    * in probe order. Runs nothing when no probe needs a column. */
  def evaluate(df: DataFrame, probes: Seq[Probe]): Seq[CheckResult] = {
    val aggs = probes.flatMap(_.aggs)
    if (aggs.isEmpty) return Nil
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    probes.flatMap(_.read(row))
  }

  /** `sum(when(pred, 1))` with an empty-input floor: SUM over zero rows
    * (or an all-null slice) is NULL, and `Row.getAs[Long]` unboxes NULL
    * into an NPE — an empty frame must report clean counts, not throw
    * (r15 review). */
  private def cnt(pred: Column): Column =
    coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L))

  /** null % per column vs threshold (data_quality_checks.py:17-43). */
  def nullPercentage(df: DataFrame, columns: Seq[String],
                     threshold: Double = 0.5): Probe = {
    val present = columns.filter(df.columns.contains)
    if (present.isEmpty) return NoProbe
    Probe(count(lit(1)).as("_np_total") +:
      present.map(c => cnt(col(c).isNull).as(s"_np_null_$c")), { row =>
      val total = row.getAs[Long]("_np_total")
      present.map { c =>
        val nulls = row.getAs[Long](s"_np_null_$c")
        val pct = if (total > 0) nulls.toDouble / total else 0.0
        CheckResult(s"null_check_$c", pct <= threshold,
          Map("null_count" -> nulls.toString, "null_percentage" -> pct.toString))
      }
    })
  }

  def checkNullPercentage(df: DataFrame, columns: Seq[String],
                          threshold: Double = 0.5): Seq[CheckResult] =
    evaluate(df, Seq(nullPercentage(df, columns, threshold)))

  /** distinct-vs-total uniqueness (data_quality_checks.py:45-71). */
  def checkUniqueness(df: DataFrame, columns: Seq[String]): Seq[CheckResult] = {
    val present = columns.filter(df.columns.contains)
    if (present.isEmpty) return Seq.empty
    // distinct must count the NULL bucket once — the reference's
    // distinct().count() does (data_quality_checks.py:60), while
    // countDistinct excludes nulls entirely: a unique column holding a
    // null would otherwise read one phantom duplicate and FAIL (r15
    // review)
    val aggs = count(lit(1)).as("_total") +:
      present.map(c => (countDistinct(col(c)) +
        coalesce(max(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)))
        .as(s"_dist_$c"))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val total = row.getAs[Long]("_total")
    present.map { c =>
      val distinct = row.getAs[Long](s"_dist_$c")
      CheckResult(s"uniqueness_check_$c", total - distinct == 0,
        Map("total_count" -> total.toString, "distinct_count" -> distinct.toString,
          "duplicate_count" -> (total - distinct).toString))
    }
  }

  /** numeric range check (data_quality_checks.py:73-104). */
  def checkValueRange(df: DataFrame, column: String,
                      minVal: Double, maxVal: Double): CheckResult = {
    val row = df.agg(
      count(lit(1)).as("_total"),
      cnt(col(column) < minVal || col(column) > maxVal)
        .as("_oor")).head()
    val total = row.getAs[Long]("_total")
    val oor = row.getAs[Long]("_oor")
    CheckResult(s"range_check_$column", oor == 0,
      Map("out_of_range_count" -> oor.toString,
        "out_of_range_percentage" ->
          (if (total > 0) oor.toDouble / total else 0.0).toString))
  }

  /** freshness vs an injectable "now" (data_quality_checks.py:106-140;
    * current_timestamp made a parameter for determinism). */
  def checkDataFreshness(df: DataFrame, tsColumn: String, maxAgeHours: Int = 24,
                         now: Column = current_timestamp()): CheckResult = {
    val age = (unix_timestamp(now) - unix_timestamp(col(tsColumn))) / 3600
    val row = df.agg(
      count(lit(1)).as("_total"),
      cnt(age > maxAgeHours).as("_stale")).head()
    val total = row.getAs[Long]("_total")
    val stale = row.getAs[Long]("_stale")
    CheckResult("freshness_check", stale == 0,
      Map("stale_records" -> stale.toString,
        "stale_percentage" ->
          (if (total > 0) stale.toDouble / total else 0.0).toString))
  }

  /** orphan count via left-anti join (data_quality_checks.py:142-175). */
  def checkReferentialIntegrity(df: DataFrame, column: String,
                                referenceDf: DataFrame,
                                referenceColumn: String): CheckResult = {
    val orphans = df.join(referenceDf,
      df(column) === referenceDf(referenceColumn), "left_anti").count()
    val total = df.count()
    CheckResult("referential_integrity_check", orphans == 0,
      Map("orphan_records" -> orphans.toString,
        "orphan_percentage" ->
          (if (total > 0) orphans.toDouble / total else 0.0).toString))
  }

  /** [[checkUniqueness]] of `column` of `df`, asked only once it holds a
    * value: the probe itself is a non-null count, and the distinct count
    * (an aggregate of its own) runs only when that count is positive. */
  def uniquenessOncePopulated(df: DataFrame, column: String): Probe =
    Probe(Seq(cnt(col(column).isNotNull).as(s"_uq_nonnull_$column")), row =>
      if (row.getAs[Long](s"_uq_nonnull_$column") > 0) checkUniqueness(df, Seq(column))
      else Nil)

  /** regex format check over non-null values (data_quality_checks.py:177-208). */
  def format(column: String, pattern: String): Probe =
    Probe(Seq(
      cnt(col(column).isNotNull).as(s"_fmt_nonnull_$column"),
      cnt(!col(column).rlike(pattern) && col(column).isNotNull)
        .as(s"_fmt_invalid_$column")), { row =>
      val nonNull = row.getAs[Long](s"_fmt_nonnull_$column")
      val invalid = row.getAs[Long](s"_fmt_invalid_$column")
      Seq(CheckResult(s"format_check_$column", invalid == 0,
        Map("invalid_format_count" -> invalid.toString,
          "invalid_percentage" ->
            (if (nonNull > 0) invalid.toDouble / nonNull else 0.0).toString)))
    })

  def checkFormat(df: DataFrame, column: String, pattern: String): CheckResult =
    evaluate(df, Seq(format(column, pattern))).head

  /** complete-row ratio over required columns (data_quality_checks.py:210-234). */
  def completeness(df: DataFrame, requiredColumns: Seq[String]): Probe = {
    val present = requiredColumns.filter(df.columns.contains)
    val completePred = present.map(c => col(c).isNotNull)
      .reduceOption(_ && _).getOrElse(lit(true))
    Probe(Seq(count(lit(1)).as("_cp_total"), cnt(completePred).as("_cp_complete")), { row =>
      val total = row.getAs[Long]("_cp_total")
      val complete = row.getAs[Long]("_cp_complete")
      Seq(CheckResult("completeness_check", total - complete == 0,
        Map("total_rows" -> total.toString, "complete_rows" -> complete.toString,
          "completeness_percentage" ->
            (if (total > 0) complete.toDouble / total else 0.0).toString)))
    })
  }

  def checkCompleteness(df: DataFrame, requiredColumns: Seq[String]): CheckResult =
    evaluate(df, Seq(completeness(df, requiredColumns))).head

  /** summary report text (data_quality_checks.py:236-266). */
  def generateReport(results: Seq[CheckResult]): String = {
    val sb = new StringBuilder("=" * 70 + "\nDATA QUALITY REPORT\n" + "=" * 70 + "\n")
    results.foreach { r =>
      sb.append(s"\n${r.name.toUpperCase.replace('_', ' ')}: " +
        (if (r.passed) "PASSED" else "FAILED") + "\n")
      r.details.foreach { case (k, v) => sb.append(s"  $k: $v\n") }
    }
    sb.append("=" * 70).toString
  }

  def failedChecks(results: Seq[CheckResult]): Seq[String] =
    results.filterNot(_.passed).map(_.name)
}
