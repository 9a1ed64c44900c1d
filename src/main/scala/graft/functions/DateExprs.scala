package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression library for the reference's scalar functions
  * (SURVEY.md §2.8). Pure `Column` compositions — Catalyst constant-folds
  * and codegens them; no UDFs anywhere.
  *
  * Date model: the reference passes "ordinal" days (days since 0001-01-01
  * = ordinal 1, proleptic Gregorian — Python `date.toordinal`). Spark 3+/4
  * DateType is proleptic Gregorian java.time, so plain datediff arithmetic
  * against the epoch is exact, including the reference's `0001-01-01`
  * default-segment sentinel (ref: blackmagic/blueprints/segment.py:52-53).
  */
object DateExprs {

  private val epoch: Column = lit("0001-01-01").cast("date")

  /** Python date.toordinal: 0001-01-01 -> 1
    * (ref: blackmagic/segaux.py:194, C5). */
  def ordinalOf(d: Column): Column = datediff(d, epoch) + 1

  /** Inverse: date.fromordinal (ref: blackmagic/blueprints/segment.py:68-70). */
  def dateFromOrdinal(o: Column): Column =
    date_add(epoch, (o - 1).cast("int"))

  /** Average reflectance: intercept + slope * ordinal(date), where slope is
    * the first harmonic coefficient (ref: blackmagic/segaux.py:189-209, C1;
    * golden: intercept 2, slope 0.1, 1980-01-01 (ordinal 722815) -> 72283.5).
    */
  def averageReflectance(intercept: Column, coefs: Column, date: Column): Column =
    intercept + element_at(coefs, 1) * ordinalOf(date).cast("double")

  /** Default-segment predicate (ref: blackmagic/segaux.py:142-146, F4). */
  def isDefaultSegment(sday: Column, eday: Column): Column =
    sday === epoch && eday === epoch

  /** Annual prediction dates: for each year spanned by [sday, eday], the
    * date year-month-day, kept only if inside the interval
    * (ref: blackmagic/segaux.py:129-139, C2). Returns array<date>.
    */
  def predictionDateArray(sday: Column, eday: Column,
      month: Int, day: Int): Column =
    filter(
      transform(sequence(year(sday), year(eday)),
        y => make_date(y, lit(month), lit(day))),
      d => d.between(sday, eday))

  /** The explode form (ref: blackmagic/segaux.py:149-163, C3): default
    * segments produce exactly one sentinel row; real segments one row per
    * annual date. The reference's only table-generating function.
    */
  def predictionDates(sday: Column, eday: Column,
      month: Int, day: Int): Column =
    explode(
      when(isDefaultSegment(sday, eday), array(epoch))
        .otherwise(predictionDateArray(sday, eday, month, day)))

  /** Normalized burn ratio (nir-swir1)/(nir+swir1)
    * (ref: references/xg-classify-annualized.py:199-223, C9). */
  def nbr(nir: Column, swir1: Column): Column =
    (nir - swir1) / (nir + swir1)
}
