package graft.parse

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.Field

/** Typed parsing of string columns per Table Schema v1 field descriptors
  * (SURVEY.md §2.3, P1–P9).
  *
  * Shape: for each field we build two pure `Column` expressions over the
  * raw all-string column —
  *   - [[parseExpr]]: the typed value, or null when unparseable;
  *   - [[invalidExpr]]: true iff the raw cell is non-null (i.e. not a
  *     declared missing token) yet fails to parse — the spec's
  *     `type-or-format-error` condition.
  *
  * Everything composes from built-in, codegen'd expressions (`rlike`,
  * `regexp_replace`, `when`, `cast`, `to_timestamp`, `split`, `from_json`)
  * — no UDFs, so whole-stage codegen spans the parse projection. Spark's
  * `cast` is laxer than the spec (accepts "1e3" for integer, stray
  * whitespace), so every cast is gated by a strict full-match regex first
  * (SURVEY.md §7.5 hard-part 3).
  */
object Parsers {

  // ---------------------------------------------------------------- missing
  /** Replace declared missing tokens with null (done once, pre-parse).
    * Upstream passes them to read_csv as na_values; order-independent
    * projection is the Spark equivalent (SURVEY.md §1.2).
    */
  def applyMissing(raw: Column, tokens: Seq[String]): Column =
    if (tokens.isEmpty) raw
    else when(raw.isin(tokens: _*), lit(null: String)).otherwise(raw)

  // ----------------------------------------------------------------- regexes
  private val EmailRe = "^[^@\\s]+@[^@\\s]+\\.[^@\\s]+$"
  private val UriRe = "^[A-Za-z][A-Za-z0-9+.-]*:\\S+$"
  private val UuidRe =
    "(?i)^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
  private val Base64Re =
    "^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=|[A-Za-z0-9+/]{4})$"
  private val IntegerRe = "^[+-]?\\d+$"
  private val YearRe = "^-?\\d{4}$"
  private val TimeRe = "^([01]\\d|2[0-3]):[0-5]\\d:[0-5]\\d$"
  /** Strict decimal with optional exponent, after separator normalization. */
  private val NumberRe =
    "(?i)^[+-]?(nan|inf(inity)?|(\\d+(\\.\\d*)?|\\.\\d+)(e[+-]?\\d+)?)$"

  private def anchored(p: String) = "^(?:" + p + ")$"

  // ----------------------------------------------------------------- number
  /** Normalize a number string: optionally strip non-numeric affixes
    * (bareNumber=false), remove groupChar, map decimalChar to '.'.
    */
  private def normalizedNumber(f: Field, raw: Column): Column = {
    val bare =
      if (f.bareNumber) raw
      else {
        // extract the first numeric run (keeping the declared separators)
        val cls = "[0-9" +
          (if (f.groupChar.nonEmpty) Pattern.quote(f.groupChar) else "") +
          Pattern.quote(f.decimalChar) + "]"
        regexp_extract(raw, s"[+-]?$cls*[0-9](?:[eE][+-]?[0-9]+)?", 0)
      }
    val ungrouped =
      if (f.groupChar.isEmpty) bare
      else regexp_replace(bare, Pattern.quote(f.groupChar), "")
    if (f.decimalChar == ".") ungrouped
    else regexp_replace(ungrouped, Pattern.quote(f.decimalChar), ".")
  }

  private def numberExpr(f: Field, raw: Column): Column = {
    val n = normalizedNumber(f, raw)
    val u = upper(n)
    when(u.isin("NAN"), lit(Double.NaN))
      .when(u.isin("INF", "INFINITY", "+INF", "+INFINITY"),
        lit(Double.PositiveInfinity))
      .when(u.isin("-INF", "-INFINITY"), lit(Double.NegativeInfinity))
      .when(n.rlike(NumberRe), n.cast(DoubleType))
      .otherwise(lit(null).cast(DoubleType))
  }

  private def integerExpr(f: Field, raw: Column): Column = {
    val bare =
      if (f.bareNumber) raw
      else regexp_extract(raw, "[+-]?[0-9]+", 0)
    when(bare.rlike(IntegerRe), bare.cast(LongType))
      .otherwise(lit(null).cast(LongType))
  }

  // ----------------------------------------------------------------- temporal

  /** `format="any"` ([B] Table Schema: "any parseable representation";
    * the reference's README declares it unsupported — SURVEY §1.2 —
    * so this EXCEEDS the reference). "Anything parseable" is
    * engine-defined, which is exactly the non-determinism a
    * distributed validator cannot afford; the contract here is a
    * FIXED, ORDERED, regex-gated form list: a raw string is claimed
    * by the FIRST form whose gate matches (at most one gate can, by
    * construction), every form is unambiguous about field order (no
    * bare `dd/MM` vs `MM/dd` guess is ever made — dotted order is
    * pinned to `dd.MM.yyyy`, slashed to `yyyy/MM/dd`), and the
    * DuckDB oracle mirrors the same gates + strptime forms, so the
    * two engines cannot disagree on which pattern parsed a value.
    * Calendar validity rides the engine's strict resolver
    * (`2026-13-01`, `2024-02-30` → null on both engines).
    */
  private val AnyDateForms: Seq[(String, String)] = Seq(
    "^\\d{4}-\\d{2}-\\d{2}$" -> "yyyy-MM-dd",
    "^\\d{4}/\\d{2}/\\d{2}$" -> "yyyy/MM/dd",
    "^\\d{8}$" -> "yyyyMMdd",
    "^\\d{2}\\.\\d{2}\\.\\d{4}$" -> "dd.MM.yyyy")

  /** ISO 8601 datetime with `T` or space separator, optional 6-digit
    * fraction, optional `Z`/`±HH:MM` offset (offsets normalize to the
    * session zone — UTC in the harness), or a bare date at midnight.
    */
  private val AnyDatetimeForms: Seq[(String, String)] = Seq(
    "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}$" ->
      "yyyy-MM-dd'T'HH:mm:ss",
    "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{6}$" ->
      "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(Z|[+-]\\d{2}:\\d{2})$" ->
      "yyyy-MM-dd'T'HH:mm:ssXXX",
    ("^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{6}" +
      "(Z|[+-]\\d{2}:\\d{2})$") -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}$" ->
      "yyyy-MM-dd HH:mm:ss",
    "^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}\\.\\d{6}$" ->
      "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "^\\d{4}-\\d{2}-\\d{2}$" -> "yyyy-MM-dd")

  private def anyTemporalExpr(raw: Column,
      forms: Seq[(String, String)]): Column =
    coalesce(forms.map { case (re, p) =>
      when(raw.rlike(re), try_to_timestamp(raw, lit(p)))
        .otherwise(lit(null).cast(TimestampType))
    }: _*)

  private def dateExpr(f: Field, raw: Column): Column =
    f.format match {
      case "any" => anyTemporalExpr(raw, AnyDateForms).cast(DateType)
      case _ =>
        val fmt = Patterns.resolve("date", f.format)
        try_to_timestamp(raw, lit(fmt)).cast(DateType)
    }

  private def datetimeExpr(f: Field, raw: Column): Column =
    f.format match {
      case "default" =>
        // ISO 8601: seconds, optional fraction, optional Z/offset
        coalesce(
          try_to_timestamp(raw, lit("yyyy-MM-dd'T'HH:mm:ss")),
          try_to_timestamp(raw, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
          try_to_timestamp(raw, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")),
          try_to_timestamp(raw, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")),
          try_to_timestamp(raw, lit("yyyy-MM-dd'T'HH:mm:ssX"))
        )
      case "any" => anyTemporalExpr(raw, AnyDatetimeForms)
      case _ =>
        try_to_timestamp(raw, lit(Patterns.resolve("datetime", f.format)))
    }

  /** `HH:mm` (seconds defaulted) or full `HH:mm:ss`, range-validated. */
  private val AnyTimeHmRe = "^([01]\\d|2[0-3]):[0-5]\\d$"

  /** Time has no Spark type: canonical `HH:mm:ss` string (SURVEY.md §1.2). */
  private def timeExpr(f: Field, raw: Column): Column =
    f.format match {
      case "default" =>
        when(raw.rlike(TimeRe), raw).otherwise(lit(null: String))
      case "any" =>
        when(raw.rlike(TimeRe), raw)
          .when(raw.rlike(AnyTimeHmRe), concat(raw, lit(":00")))
          .otherwise(lit(null: String))
      case _ =>
        val fmt = Patterns.resolve("time", f.format)
        date_format(try_to_timestamp(raw, lit(fmt)), "HH:mm:ss")
    }

  private def yearExpr(raw: Column): Column =
    when(raw.rlike(YearRe), raw.cast(IntegerType))
      .otherwise(lit(null).cast(IntegerType))

  /** yearmonth `YYYY-MM` → DateType at day 1 (spec §yearmonth; the
    * reference leaves it unsupported — we exceed it here).
    */
  private val YearMonthRe = "^\\d{4}-(0[1-9]|1[0-2])$"
  private def yearmonthExpr(raw: Column): Column =
    when(raw.rlike(YearMonthRe),
      try_to_timestamp(concat(raw, lit("-01")), lit("yyyy-MM-dd"))
        .cast(DateType))
      .otherwise(lit(null).cast(DateType))

  /** ISO 8601 duration (spec §duration; reference unsupported — we
    * exceed it). Lookahead-free alternation (portable to RE2-based
    * engines, which reject lookaheads): date part Y(M)(D) | M(D) | D | W,
    * time part H(M)(S) | M(S) | S, at least one component overall.
    * Canonical string representation (no Spark interval round-trip).
    */
  val DurationRe: String = {
    val tp = "(?:\\d+H(?:\\d+M)?(?:\\d+(?:\\.\\d+)?S)?" +
      "|\\d+M(?:\\d+(?:\\.\\d+)?S)?|\\d+(?:\\.\\d+)?S)"
    val dp = "(?:\\d+Y(?:\\d+M)?(?:\\d+D)?|\\d+M(?:\\d+D)?|\\d+D|\\d+W)"
    s"^P(?:$dp(?:T$tp)?|T$tp)$$"
  }

  private def durationExpr(raw: Column): Column =
    when(raw.rlike(DurationRe), raw).otherwise(lit(null: String))

  /** GeoJSON type tags accepted for the `geojson` default format. */
  val GeoJsonTypes: Seq[String] = Seq(
    "Point", "MultiPoint", "LineString", "MultiLineString", "Polygon",
    "MultiPolygon", "GeometryCollection", "Feature", "FeatureCollection")

  /** geojson (spec §geojson; reference unsupported): a JSON object whose
    * `type` member is a GeoJSON geometry/feature tag. Validated string
    * passthrough — full geometry validation is out of scope.
    */
  private def geojsonExpr(raw: Column): Column =
    when(raw.rlike("^\\s*\\{") && get_json_object(raw, "$").isNotNull &&
        get_json_object(raw, "$.type").isin(GeoJsonTypes: _*), raw)
      .otherwise(lit(null: String))

  // -------------------------------------------------------------- json types
  /** object/array (spec §object §array): value must be a JSON object /
    * array; the parsed representation stays the (validated) JSON string.
    * `get_json_object(_, '$')` returns null on malformed JSON in both
    * lenient and strict engines for the shapes we accept; the leading
    * token pins the container kind.
    */
  private def jsonContainerExpr(raw: Column, openRe: String): Column =
    when(raw.rlike(openRe) && get_json_object(raw, "$").isNotNull, raw)
      .otherwise(lit(null: String))

  // ----------------------------------------------------------------- geopoint
  /** lon/lat struct; invalid or out-of-range (±180/±90) → null. */
  private def geopointExpr(f: Field, raw: Column): Column = {
    val pair: (Column, Column) = f.format match {
      case "array" =>
        val arr = from_json(raw, ArrayType(DoubleType))
        (when(size(arr) === 2, element_at(arr, 1)),
          when(size(arr) === 2, element_at(arr, 2)))
      case "object" =>
        val st = from_json(raw,
          StructType(Seq(StructField("lon", DoubleType),
            StructField("lat", DoubleType))))
        (st.getField("lon"), st.getField("lat"))
      case _ => // default: "lon, lat"
        val numRe = "[+-]?(\\d+(\\.\\d*)?|\\.\\d+)"
        val ok = raw.rlike(s"^\\s*$numRe\\s*,\\s*$numRe\\s*$$")
        val parts = split(raw, ",")
        (when(ok, trim(element_at(parts, 1)).cast(DoubleType)),
          when(ok, trim(element_at(parts, 2)).cast(DoubleType)))
    }
    val (lon, lat) = pair
    val inRange = lon.isNotNull && lat.isNotNull &&
      lon.between(-180d, 180d) && lat.between(-90d, 90d)
    when(inRange, struct(lon.as("lon"), lat.as("lat")))
      .otherwise(lit(null).cast(
        StructType(Seq(StructField("lon", DoubleType),
          StructField("lat", DoubleType)))))
  }

  // ----------------------------------------------------------------- string
  private def stringFormatRe(format: String): Option[String] = format match {
    case "email"  => Some(EmailRe)
    case "uri"    => Some(UriRe)
    case "uuid"   => Some(UuidRe)
    case "binary" => Some(Base64Re)
    case _        => None // default: always valid
  }

  // ----------------------------------------------------------------- public
  /** Typed value, or null when the raw string fails to parse.
    * For `string` fields the value passes through unchanged; a failed
    * format check yields null here and true in [[invalidExpr]].
    */
  def parseExpr(f: Field, raw: Column): Column = f.ftype match {
    case "string" =>
      stringFormatRe(f.format) match {
        case Some(re) => when(raw.rlike(re), raw).otherwise(lit(null: String))
        case None     => raw
      }
    case "number"   => numberExpr(f, raw)
    case "integer"  => integerExpr(f, raw)
    case "boolean" =>
      when(raw.isin(f.trueValues: _*), lit(true))
        .when(raw.isin(f.falseValues: _*), lit(false))
        .otherwise(lit(null).cast(BooleanType))
    case "date"      => dateExpr(f, raw)
    case "datetime"  => datetimeExpr(f, raw)
    case "time"      => timeExpr(f, raw)
    case "year"      => yearExpr(raw)
    case "yearmonth" => yearmonthExpr(raw)
    case "geopoint"  => geopointExpr(f, raw)
    case "object"    => jsonContainerExpr(raw, "^\\s*\\{")
    case "array"     => jsonContainerExpr(raw, "^\\s*\\[")
    case "duration"  => durationExpr(raw)
    case "geojson"   => geojsonExpr(raw)
    case other =>
      throw new IllegalArgumentException(s"unsupported field type '$other'")
  }

  /** True iff raw is present (non-null after missing-token substitution)
    * but does not parse — the `type-or-format-error` predicate.
    */
  def invalidExpr(f: Field, raw: Column): Column =
    raw.isNotNull && parseExpr(f, raw).isNull
}
