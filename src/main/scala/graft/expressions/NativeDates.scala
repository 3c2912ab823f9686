package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DateType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native `m/d/yyyy` date parse/format (SURVEY.md §2.7 F3 — the
  * reference reassembles US-style text dates, `export_svg.py:216-217`).
  *
  * `try_to_timestamp(c, 'M/d/yyyy')` routes every row through
  * DateTimeFormatter (per-field TemporalAccessor resolution plus
  * exception-driven rejection under `try_`); these expressions do the
  * digit walk and proleptic-Gregorian day arithmetic directly — one
  * static JVM call per row, no exceptions on the reject path, and the
  * same strict semantics on the reference's data domain: 1-2 digit
  * month/day, exactly 4-digit year, real calendar validation (leap
  * years included), anything else → NULL. (DateTimeFormatter would
  * additionally accept 5+-digit years — out of domain for the FJC
  * archive and the TPC-H-ish fixtures; such strings parse to NULL
  * here, a documented narrowing.)
  */
object NativeDates {

  private val CUM_DAYS = // days before month m (1-based), non-leap
    Array(0, 0, 31, 59, 90, 120, 151, 181, 212, 243, 273, 304, 334)

  private def isLeap(y: Int): Boolean =
    (y % 4 == 0 && y % 100 != 0) || y % 400 == 0

  private def daysInMonth(y: Int, m: Int): Int = m match {
    case 2 => if (isLeap(y)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** y/m/d (validated) → days since 1970-01-01, proleptic Gregorian —
    * the arithmetic form of LocalDate.of(y,m,d).toEpochDay for y ≥ 1
    * (era of the civil calendar; the parser only admits 4-digit
    * years). 719468 = days from 0000-03-01 to 1970-01-01 in the
    * March-based year used to push the leap day to the end. */
  private def toEpochDay(y: Int, m: Int, d: Int): Int = {
    val yy = if (m <= 2) y - 1 else y
    val era = yy / 400
    val yoe = yy - era * 400
    val mp = (m + 9) % 12 // Mar=0 ... Feb=11
    val doy = (153 * mp + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097 + doe - 719468
  }

  /** "M/d/yyyy" → epoch-day Int, or null (boxed) when the string is
    * not month `/` day `/` 4-digit-year spelling a real calendar
    * date. Month/day fields take 1-19 digits with the value range
    * enforced afterwards (java.time's single-letter numeric fields
    * parse greedily, so `001/2/1992` is month 1); the year is exactly
    * 4 digits (the documented narrowing vs DateTimeFormatter's 4-19). */
  def parseMdyEval(str: UTF8String): java.lang.Integer = {
    val n = str.numBytes
    if (n < 8) return null // shortest valid form is 1/1/0001
    var i = 0
    // month then '/': 1-19 digits, value range checked below
    var m = 0L
    var dig = 0
    var b: Byte = 0
    while (i < n && { b = str.getByte(i); b >= '0' && b <= '9' }) {
      if (m < 100) m = m * 10 + (b - '0') // further digits only matter as count
      dig += 1; i += 1
    }
    if (dig < 1 || dig > 19 || i >= n || str.getByte(i) != '/') return null
    i += 1
    // day then '/': same field shape
    var d = 0L
    dig = 0
    while (i < n && { b = str.getByte(i); b >= '0' && b <= '9' }) {
      if (d < 100) d = d * 10 + (b - '0')
      dig += 1; i += 1
    }
    if (dig < 1 || dig > 19 || i >= n || str.getByte(i) != '/') return null
    i += 1
    // year: exactly 4 digits, then end of string
    var y = 0
    dig = 0
    while (i < n && { b = str.getByte(i); b >= '0' && b <= '9' }) {
      y = y * 10 + (b - '0'); dig += 1; i += 1
    }
    if (dig != 4 || i != n) return null
    if (m < 1 || m > 12 || d < 1 || y < 1) return null
    val mi = m.toInt
    val di = d.toInt
    if (di > daysInMonth(y, mi)) return null
    java.lang.Integer.valueOf(toEpochDay(y, mi, di))
  }

  /** Epoch-day Int → "MM/dd/yyyy" (the inverse civil-from-days walk;
    * zero-padded, 10 ASCII bytes built in place — what
    * `date_format(c, 'MM/dd/yyyy')` produces for years 1000-9999). */
  def formatMdyEval(epochDay: Int): UTF8String = {
    val z = epochDay + 719468
    val era = (if (z >= 0) z else z - 146096) / 146097
    val doe = z - era * 146097
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val d = doy - (153 * mp + 2) / 5 + 1
    val m = if (mp < 10) mp + 3 else mp - 9
    val y = yoe + era * 400 + (if (m <= 2) 1 else 0)
    val out = new Array[Byte](10)
    out(0) = ('0' + m / 10).toByte; out(1) = ('0' + m % 10).toByte
    out(2) = '/'
    out(3) = ('0' + d / 10).toByte; out(4) = ('0' + d % 10).toByte
    out(5) = '/'
    out(6) = ('0' + y / 1000 % 10).toByte; out(7) = ('0' + y / 100 % 10).toByte
    out(8) = ('0' + y / 10 % 10).toByte; out(9) = ('0' + y % 10).toByte
    UTF8String.fromBytes(out)
  }

  def parseMdy(str: Column): Column =
    ColumnBridge.staticCall(this, "parseMdyEval", DateType, returnNullable = true)(str)

  /** Timestamp inputs are first truncated to DATE in the session time
    * zone — the same zone `date_format` would render them in. */
  def formatMdy(date: Column): Column =
    ColumnBridge.staticCall(this, "formatMdyEval", StringType)(date.cast("date"))
}
