package graft.contract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.rules.Messages

/** Columnar data-contract application: validate + cast, the engine's heaviest
  * operator.
  *
  * The reference validates per-row with pydantic model instantiation inside
  * `df.rdd.map` (Python workers, ref: spark/contract.py:92-199) and casts via
  * generated SQL (ref: spark_helpers.py:516-621). Here BOTH halves are column
  * logic in a single projection each: per-field checks accumulate an
  * `array<struct>` of errors per row, and the typed cast mirrors the
  * reference's TRIM / regex-guarded TRY_TO_TIMESTAMP / TRANSFORM / STRUCT
  * statement generator. No per-row interpreter, no serialization boundary —
  * the whole contract stays inside whole-stage codegen and scales linearly.
  *
  * Error categories follow the reference (ref: core_engine/message.py:67-73):
  * Blank (missing mandatory), Wrong format (unparseable/regex), Bad value
  * (constraint violated).
  */
object Contract {

  val RecordIndexColumn: String = Messages.RecordIndexColumn

  // `field` is the index-free dotted path (the error-detail override key,
  // ref: message.py:258 strips int indices); `loc` additionally keeps the
  // 0-based element index for array-element errors (ref: message.py:272
  // reports the full pydantic loc tuple, indices included).
  private val errorStruct =
    "struct<field:string,category:string,message:string,value:string,status:string,failure:string,loc:string>"

  /** Stringified interchange form: every leaf cast to string, preserving
    * array/struct shape (ref: backends/utilities.py:84-116 stringify_model,
    * pipeline/pipeline.py:198-246).
    */
  def stringify(df: DataFrame): DataFrame = {
    def conv(c: Column, dt: DataType): Column = dt match {
      case ArrayType(et, _) => transform(c, x => conv(x, et))
      case StructType(fs)   => struct(fs.map(f => conv(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*)
      case _                => c.cast(StringType)
    }
    df.select(df.schema.fields.map { f =>
      // the synthetic record index survives as long — it is engine metadata,
      // not user data (the reference stringifies before indexing)
      if (f.name == RecordIndexColumn) col(s"`${f.name}`")
      else conv(col(s"`${f.name}`"), f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** Per-column data-quality PROFILE — the submission-triage summary a
    * validation team reads before writing a contract: for every top-level
    * column, its null count, blank count (empty-after-trim strings),
    * distinct count, and lexicographic min/max of the stringified values.
    * ONE aggregation pass computes every column's statistics together
    * (a per-column loop of jobs would scan the data once per column); the
    * single wide row then unpivots driver-side into one row per column —
    * #columns rows, never data rows.
    *
    * Distinct counts are exact (two-level hash aggregate); swap in
    * approx_count_distinct for corpora where even that is too much — the
    * q_distinct_approx scale path.
    */
  def profile(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cols = df.columns.toIndexedSeq
    val aggs = cols.flatMap { c =>
      val s = col(s"`$c`").cast(StringType)
      Seq(
        count(lit(1)) - count(s),
        count(when(trim(s) === "", 1)),
        count_distinct(s),
        min(s), max(s))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      val b = i * 5
      (c, row.getLong(b), row.getLong(b + 1), row.getLong(b + 2),
        Option(row.getString(b + 3)).orNull, Option(row.getString(b + 4)).orNull)
    }.toDF("column", "n_nulls", "n_blank", "n_distinct", "min_value", "max_value")
  }

  /** Contract RULE SUGGESTION — [[profile]]'s active sibling: mine a
    * stringified submission for the validation contract a human would
    * write for it (the bootstrap step when onboarding a feed with no
    * dischema yet). Per column: a type whose format EVERY present value
    * matches (int before float — the float regex accepts ints; then ISO
    * date; else str), nullability from observed null/blank mass, and an
    * enum candidacy flag for low-cardinality string columns.
    *
    * Same execution shape as [[profile]]: ONE aggregation pass producing a
    * single wide row (8 exprs per column — counts/regex-match tallies are
    * map-side combined), then a driver-side unpivot of that bounded row.
    * No per-column jobs, no collect of data rows.
    */
  def suggestRules(df: DataFrame, enumMax: Int = 10): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cols = df.columns.toIndexedSeq
    val aggs = cols.flatMap { c =>
      val s = col(s"`$c`").cast(StringType)
      val present = when(trim(s) =!= "", s)
      Seq(
        count(lit(1)) - count(s),                         // nulls
        count(when(trim(s) === "", 1)),                   // blanks
        count(present),                                   // present values
        count(when(s.rlike("^[+-]?[0-9]+$"), 1)),
        count(when(s.rlike("^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$"), 1)),
        count(when(s.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"), 1)),
        // TRIMMED distinct: enum candidacy must count the same value space
        // [[validateAgainstSuggested]] builds its enum set from (trimmed),
        // or a column holding both " A" and "A" is judged on one
        // cardinality and enforced on another
        count_distinct(when(trim(s) =!= "", trim(s))),
        max(length(present)))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      val b = i * 8
      val (nNulls, nBlank, present) = (row.getLong(b), row.getLong(b + 1), row.getLong(b + 2))
      val (intOk, floatOk, dateOk) = (row.getLong(b + 3), row.getLong(b + 4), row.getLong(b + 5))
      val nDistinct = row.getLong(b + 6)
      val maxLen = if (row.isNullAt(b + 7)) 0L else row.getInt(b + 7).toLong
      val suggested =
        if (present == 0L) "str"
        else if (intOk == present) "long"
        else if (floatOk == present) "double"
        else if (dateOk == present) "date"
        else "str"
      (c, suggested, nNulls + nBlank > 0L,
        suggested == "str" && present > 0L && nDistinct <= enumMax,
        nDistinct, maxLen)
    }.toDF("column", "suggested_type", "nullable", "enum_candidate",
      "n_distinct", "max_length")
  }

  /** Schema-drift GUARD — [[suggestRules]] closed into a loop: mine the
    * contract a reference snapshot implies, then count how a new
    * snapshot violates it (type-format regressions, new null/blank mass
    * in previously-complete columns, enum values never seen before).
    * The alerting primitive for feeds with no hand-written dischema yet:
    * "yesterday every value parsed as a date; today 312 don't".
    *
    * Execution shape: one [[suggestRules]] pass over the reference (a
    * single wide aggregation), then ONE wide aggregation over the new
    * snapshot with 3 exprs per column — the per-column rule parameters
    * are driver-held constants (bounded by column count), never a join.
    * Enum violation counting only engages for enum-candidate columns,
    * against the (≤ enumMax) distinct values of the reference.
    */
  def validateAgainstSuggested(reference: DataFrame, fresh: DataFrame,
                               enumMax: Int = 10): DataFrame = {
    val spark = fresh.sparkSession
    import spark.implicits._
    val rules = suggestRules(reference, enumMax).collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getBoolean(3)))
      .filter { case (c, _, _, _) => fresh.columns.contains(c) }
    if (rules.isEmpty) // no shared columns: nothing to validate, not a crash
      return Seq.empty[(String, String, Long, Long, Long, Boolean)]
        .toDF("column", "suggested_type", "n_type_violations",
          "n_null_violations", "n_enum_violations", "drifted")
    val enumValues: Map[String, Seq[String]] = rules.collect {
      case (c, _, _, true) =>
        c -> reference.select(trim(col(s"`$c`").cast(StringType)).as("v"))
          .where(col("v") =!= "").distinct()
          .collect().map(_.getString(0)).toSeq.sorted // bounded by enumMax
    }.toMap
    val typeRegex = Map(
      "long" -> "^[+-]?[0-9]+$",
      "double" -> "^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$",
      "date" -> "^[0-9]{4}-[0-9]{2}-[0-9]{2}$")
    val aggs = rules.flatMap { case (c, tpe, nullable, isEnum) =>
      val s = col(s"`$c`").cast(StringType)
      val present = trim(s) =!= ""
      val typeViol = typeRegex.get(tpe)
        .map(re => count(when(present && !s.rlike(re), 1)))
        .getOrElse(count(lit(null))) // str: no format to violate
      val nullViol =
        if (nullable) count(lit(null)) // already nullable: nulls are in-contract
        else count(when(s.isNull || trim(s) === "", 1))
      val enumViol =
        // trim the fresh value before membership: the enum set is built
        // from TRIMMED reference values, so an untrimmed test would count
        // a whitespace-padded copy of a known value as drift
        if (isEnum) count(when(present && !trim(s).isin(enumValues(c).map(x => x: Any): _*), 1))
        else count(lit(null))
      Seq(typeViol, nullViol, enumViol)
    }
    val row = fresh.agg(aggs.head, aggs.tail: _*).head()
    rules.zipWithIndex.map { case ((c, tpe, nullable, isEnum), i) =>
      val b = i * 3
      (c, tpe, row.getLong(b), row.getLong(b + 1), row.getLong(b + 2),
        row.getLong(b) + row.getLong(b + 1) + row.getLong(b + 2) > 0L)
    }.toSeq.toDF("column", "suggested_type", "n_type_violations",
      "n_null_violations", "n_enum_violations", "drifted")
  }

  // ---------------------------------------------------------------- numeric / format regexes
  private val intRegex = "^[+-]?[0-9]+$"
  private val floatRegex = "^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$"
  // the pydantic v1 bool families (bool_validator): planets.csv.csv's
  // Yes/No booleans must parse with 0 rejections, as its feature asserts
  private val boolTrue = Seq("true", "t", "yes", "y", "on", "1")
  private val boolFalse = Seq("false", "f", "no", "n", "off", "0")
  private val boolValues = boolTrue ++ boolFalse
  // ref: metadata_parser/domain_types.py:32
  private val postcodeRegex = "^[a-zA-Z]{1,2}[0-9]([a-zA-Z]?|[0-9]?) [0-9][a-zA-Z]{2}$"
  private val orgIdRegex = "^[A-Z0-9]{3,5}$" // ref: domain_types.py:239-255
  private val nullPostcodes = Seq("tba", "tbc", "na", "n/a", "no valid")

  private def nhsCheckExpr(c: Column): Column = {
    val cleaned = regexp_replace(regexp_replace(c, " ", ""), "-", "")
    // try_cast: And does NOT short-circuit per row, so the digit extraction
    // must tolerate short/non-numeric values (a 9-digit number makes
    // substring(_, 10, 1) = "" and an ANSI cast would throw) — the rlike
    // format gate below decides validity, null arithmetic never passes it
    val total = (1 to 9).map(i => substring(cleaned, i, 1).try_cast(IntegerType) * lit(11 - i))
      .reduce(_ + _)
    val rem = total % 11
    val check = lit(11) - when(rem === 0, 11).otherwise(rem)
    cleaned.rlike("^[0-9]{10}$") &&
      check === substring(cleaned, 10, 1).try_cast(IntegerType)
  }

  /** Normalise as the reference does (ref: domain_types.py:181-191): strip
    * spaces, null out placeholder values, re-insert the space before the
    * 3-char incode, uppercase.
    */
  private def postcodeNormExpr(c: Column): Column = {
    val nospace = regexp_replace(c, " ", "")
    val outcode = regexp_replace(nospace, ".{3}$", "")
    val incode = regexp_extract(nospace, "(.{3})$", 1)
    val norm = upper(concat(outcode, lit(" "), incode))
    when(nospace === "" || lower(nospace).isin(nullPostcodes: _*), lit(null)).otherwise(norm)
  }

  // ---------------------------------------------------------------- per-field functions

  /** Apply the field's validation/normalisation functions in order
    * (ref: metadata_parser/function_library.py:33-64), each null-passing
    * (ref: function_library.py:8-29 `_nullcheck`). These transform the RAW
    * value before format checks and before the cast — pydantic validator
    * semantics. A function whose `error_type` is `warning` never modifies
    * the value on failure (the reference's wrapper logs and returns the
    * original, ref: function_wrapper.py:48-181); rejecting error types null
    * the value and route a message (see [[functionFailures]]).
    */
  private def applyFunctions(c0: Column, f: FieldSpec): Column =
    f.functions.foldLeft(c0) { (v, fn) =>
      val blank = v.isNull || trim(v) === ""
      val applied = fn.name match {
        case "normalise" =>
          if (fn.kwargs.get("capitalize").exists(_.equalsIgnoreCase("true")))
            concat(upper(substring(v, 1, 1)), lower(substring(v, 2, Int.MaxValue)))
          else v
        case "exclude_word" =>
          val word = fn.kwargs.getOrElse("word", "")
          val hit = instr(lower(v), word.toLowerCase) > 0
          if (fn.errorType == "warning") v // warn-only: value passes through
          else when(hit, lit(null).cast(StringType)).otherwise(v)
        case "split" =>
          val sep = fn.kwargs.getOrElse("split_on", ",")
          val keep = fn.kwargs.get("keep").map(_.toInt).getOrElse(0)
          // out-of-range keep -> null for rejecting error types (the message
          // is routed by functionFailures); warn-only keeps the raw value
          val part = get(split(v, java.util.regex.Pattern.quote(sep)), lit(keep))
          if (fn.errorType == "warning") when(part.isNull, v).otherwise(part) else part
        case "static_key" => lit("1")
        case other =>
          throw new IllegalArgumentException(s"unknown field function: '$other'")
      }
      if (fn.name == "static_key") applied // static_key ignores the input value
      else when(blank, v).otherwise(applied)
    }

  /** Failure conditions of the field's functions, each with its routed
    * message/status/failure-kind (ref: function_wrapper.py:48-181 +
    * models.py:52-93): `record_rejection` -> record-level error,
    * `file_rejection` -> submission-level error (fails the whole file),
    * `warning` -> informational record message. Conditions are evaluated
    * against the value as transformed by the PRECEDING functions (validator
    * chain order).
    */
  private def functionFailures(c0: Column, f: FieldSpec): Seq[(Column, String, String, String)] = {
    val failures = Seq.newBuilder[(Column, String, String, String)]
    f.functions.foldLeft(c0) { (v, fn) =>
      val blank = v.isNull || trim(v) === ""
      val cond = fn.name match {
        case "exclude_word" =>
          val word = fn.kwargs.getOrElse("word", "")
          Some((instr(lower(v), word.toLowerCase) > 0, s"contains excluded word '$word'"))
        case "split" =>
          val sep = fn.kwargs.getOrElse("split_on", ",")
          val keep = fn.kwargs.get("keep").map(_.toInt).getOrElse(0)
          Some((get(split(v, java.util.regex.Pattern.quote(sep)), lit(keep)).isNull,
            s"cannot be split on '$sep' (part $keep missing)"))
        case _ => None // normalise / static_key cannot fail
      }
      cond.foreach { case (hit, msg) =>
        val (status, failure) = fn.errorType match {
          case "file_rejection" => ("error", "submission")
          case "warning"        => ("informational", "record")
          case _                => ("error", "record")
        }
        failures += ((!blank && hit, msg, status, failure))
      }
      applyFunctions(v, f.copy(functions = Seq(fn)))
    }
    failures.result()
  }

  /** Default applied on blank (ref: models.py:280-282). */
  private def defaulted(c: Column, f: FieldSpec): Column = f.default match {
    case Some(d) => when(c.isNull || trim(c) === "", lit(d)).otherwise(c)
    case None    => c
  }

  /** The value a field is validated and cast from: default applied on blank
    * (ref: models.py:280-282), then the field functions.
    */
  private def effectiveValue(c: Column, f: FieldSpec): Column =
    applyFunctions(defaulted(c, f), f)

  /** Does this stringified value parse as the declared scalar type? */
  private def formatOk(c: Column, f: FieldSpec): Column = f.typeName match {
    case "int" | "long" | "conint"         => trim(c).rlike(intRegex)
    case "float" | "double" | "decimal" | "condecimal" => trim(c).rlike(floatRegex)
    case "bool"                            => lower(trim(c)).isin(boolValues: _*)
    case "date" | "conformatteddate" => f.format match {
      case Some(fmt) => trim(c).rlike(FieldSpec.strptimeToRegex(fmt)) &&
        try_to_timestamp(trim(c), lit(FieldSpec.strptimeToJava(fmt))).isNotNull
      case None => trim(c).try_cast(DateType).isNotNull // try_cast: ANSI-mode safe
    }
    case "datetime" => f.format match {
      case Some(fmt) => trim(c).rlike(FieldSpec.strptimeToRegex(fmt)) &&
        try_to_timestamp(trim(c), lit(FieldSpec.strptimeToJava(fmt))).isNotNull
      case None => trim(c).try_cast(TimestampType).isNotNull
    }
    case "formatteddatetime" => f.format match {
      case Some(fmt) => trim(c).rlike(FieldSpec.strptimeToRegex(fmt)) &&
        try_to_timestamp(trim(c), lit(FieldSpec.strptimeToJava(fmt))).isNotNull
      case None => flexDatetime(c).isNotNull
    }
    case "time" | "formattedtime" =>
      trim(c).rlike("^\\d{2}:\\d{2}(:\\d{2})?$")
    case "nhsnumber" | "permissivenhsno" => nhsCheckExpr(trim(c))
    case "postcode"    => postcodeNormExpr(trim(c)).isNull || postcodeNormExpr(trim(c)).rlike(postcodeRegex)
    case "orgid"       => trim(c).rlike(orgIdRegex)
    case "alphanumeric" => trim(c).rlike("^[a-zA-Z0-9]*$")
    case "identifier"  => trim(c).rlike("^[a-zA-Z0-9_-]*$")
    case "reportingperiodstart" | "reportingperiodend" =>
      reportingPeriodDate(c, f).isNotNull
    case _             => lit(true) // str: any text is well-formed
  }

  // -------------------------------------------------- flexible datetimes

  private val flexDtRegex =
    "^([0-9]{4})-?([0-9]{2})-?([0-9]{2})[T ]?([0-9]{2}):?([0-9]{2}):?([0-9]{2})" +
      "(\\.[0-9]{1,6})?([+-][0-9]{2}:?[0-9]{2})?$"

  /** Normalize the Zulu suffix and the NHS 16-digit / 8T8 forms
    * (ref: domain_types.py:369-400 reformat_nhs_string_format + Z handling).
    */
  private def flexNormalize(c: Column): Column = {
    val s0 = trim(c)
    val s1 = when(s0.rlike("[zZ]$"),
      concat(regexp_replace(s0, "[zZ]$", ""), lit("+00:00"))).otherwise(s0)
    val digits = regexp_replace(s1, "T", "")
    val nhs = concat(
      substring(digits, 1, 4), lit("-"), substring(digits, 5, 2), lit("-"), substring(digits, 7, 2),
      lit(" "), substring(digits, 9, 2), lit(":"), substring(digits, 11, 2), lit(":"),
      substring(digits, 13, 2), lit("+"), substring(digits, 15, 2), lit(":00"))
    when(s1.rlike("^([0-9]{16}|[0-9]{8}T[0-9]{8})$"), nhs).otherwise(s1)
  }

  /** Multi-pattern datetime parse (ref: domain_types.py:355-401
    * DEFAULT_PATTERNS — the cross product of dashed/compact date, T/space/no
    * separator, colon/compact time, optional fraction, optional offset).
    * Instead of 48 trial parses, one regex canonicalizes to ISO form and a
    * single try_cast finishes (also rejecting impossible dates).
    */
  private[contract] def flexDatetime(c: Column): Column = {
    val s = flexNormalize(c)
    def g(i: Int): Column = regexp_extract(s, flexDtRegex, i)
    val canonical = when(s.rlike(flexDtRegex),
      concat(g(1), lit("-"), g(2), lit("-"), g(3), lit(" "),
        g(4), lit(":"), g(5), lit(":"), g(6), g(7), g(8)))
      .otherwise(lit(null).cast(StringType))
    canonical.try_cast(TimestampType)
  }

  /** Did the (normalized) value carry an explicit UTC offset? */
  private[contract] def flexHasTimezone(c: Column): Column =
    flexNormalize(c).rlike("[+-][0-9]{2}:?[0-9]{2}$")

  /** Parse a reporting-period value with its declared format (default
    * %Y-%m-%d, ref: domain_types.py:569-575).
    */
  private def reportingPeriodDate(c: Column, f: FieldSpec): Column = {
    val fmt = f.format.getOrElse("%Y-%m-%d")
    when(trim(c).rlike(FieldSpec.strptimeToRegex(fmt)),
      try_to_timestamp(trim(c), lit(FieldSpec.strptimeToJava(fmt))).cast(DateType))
      .otherwise(lit(null).cast(DateType))
  }

  /** Constraint checks -> Seq of (failCondition, category, message).
    *
    * Every check reports category "Bad value" with message "is invalid" —
    * the reference DISCARDS the pydantic error's own text and renders the
    * (field, category) error-detail template, whose "Bad value" default is
    * literally "is invalid" (ref: message.py:68-69 DEFAULT_ERROR_DETAIL,
    * :262-276 from_validation_error; tests/test_pipeline/
    * test_spark_pipeline.py pins ErrorMessage "is invalid" for not_ge,
    * max_length and bool failures alike). Richer per-check text would
    * diverge from every golden scenario.
    */
  private def constraintChecks(c: Column, f: FieldSpec): Seq[(Column, String, String)] = {
    val t = trim(c)
    val asNum = t.try_cast("decimal(38,10)")
    val inv = "is invalid"
    Seq(
      f.minLength.map(n => (length(t) < n, "Bad value", inv)),
      f.maxLength.map(n => (length(t) > n, "Bad value", inv)),
      f.regex.map(r => (!t.rlike(r), "Bad value", inv)),
      f.ge.map(v => (asNum < v.bigDecimal.toPlainString.toDouble, "Bad value", inv)),
      f.le.map(v => (asNum > v.bigDecimal.toPlainString.toDouble, "Bad value", inv)),
      f.gt.map(v => (asNum <= v.bigDecimal.toPlainString.toDouble, "Bad value", inv)),
      f.lt.map(v => (asNum >= v.bigDecimal.toPlainString.toDouble, "Bad value", inv)),
      // timezone policy for flexible datetimes (ref: domain_types.py:420-428)
      (if (f.typeName == "formatteddatetime" && f.format.isEmpty)
        f.timezoneTreatment match {
          case Some("forbid") => Some((flexHasTimezone(c), "Bad value", inv))
          case Some("require") => Some((!flexHasTimezone(c), "Bad value", inv))
          case _ => None
        }
      else None),
      // reporting periods must sit on month boundaries (ref: domain_types.py:585-611)
      (if (f.typeName == "reportingperiodstart")
        Some((dayofmonth(reportingPeriodDate(c, f)) =!= 1, "Bad value", inv))
      else None),
      (if (f.typeName == "reportingperiodend")
        Some((reportingPeriodDate(c, f) =!= last_day(reportingPeriodDate(c, f)),
          "Bad value", inv))
      else None)
    ).flatten
  }

  /** One error struct in the internal `__errors__` element schema; `loc`
    * defaults to the field path (scalar case — no element index).
    */
  private def errStruct(label: String, value: Column, category: String, message: Column,
                        status: String = "error", failure: String = "record",
                        loc: Column = null): Column =
    struct(lit(label).as("field"), lit(category).as("category"),
      message.as("message"), value.cast(StringType).as("value"),
      lit(status).as("status"), lit(failure).as("failure"),
      (if (loc == null) lit(label) else loc).as("loc"))

  /** All error structs for one field as an array<struct> Column. */
  private def fieldErrors(f: FieldSpec): Column =
    fieldErrorsAt(col(s"`${f.name}`"), f, f.name)

  /** Errors for a field value at a (possibly nested) location: `label` is the
    * dotted path reported as the error's field (matching the reference's
    * `subfield.id` locations and the error-detail override keys); `locAt`
    * is the INDEXED location (element indices included, like the pydantic
    * loc tuple the reference reports, ref: message.py:272) — it defaults to
    * the label when no array is on the path.
    */
  private def fieldErrorsAt(raw: Column, f: FieldSpec, label: String,
                            locAt: Column = null): Column = {
    val empty = array().cast(s"array<$errorStruct>")
    val locCol = if (locAt == null) lit(label) else locAt

    def mkErr(value: Column, category: String, message: Column,
              status: String, failure: String, loc: Column = locCol): Column =
      struct(lit(label).as("field"), lit(category).as("category"),
        message.as("message"), value.cast(StringType).as("value"),
        lit(status).as("status"), lit(failure).as("failure"), loc.as("loc"))

    def err(value: Column, category: String, message: String,
            loc: Column = locCol): Column =
      mkErr(value, category, lit(message), "error", "record", loc)

    // warnings carry category "Wrong format" + their own text — the
    // reference's warning lane (validation.py:106-150 handle_warnings:
    // category="Wrong format", code from the detail's "Wrong format" key,
    // message = str(warning)); errors below never use this category
    def warnErr(value: Column, message: Column): Column =
      mkErr(value, "Wrong format", message, "informational", "record")

    // indexed element location: <loc>.<i> (0-based, like pydantic)
    def elemLoc(i: Column): Column = concat(locCol, lit("."), i.cast(StringType))

    if (f.isArray && f.fields.isEmpty) {
      // Per-item validation of scalar arrays (ref: models.py:198-209
      // `each_item` validators): one error struct per failing element,
      // located at its element index. transform with the index lambda +
      // null-filter keeps positions (a pre-filter would renumber them).
      val isMissing = raw.isNull || size(raw) === 0
      val nullErr = lit(null).cast(errorStruct)
      val blank =
        if (f.mandatory) when(isMissing, array(err(raw, "Blank", "cannot be blank"))).otherwise(empty)
        else empty
      val elemBlank = (x: Column) => {
        val e = effectiveValue(x, f); e.isNull || trim(e) === ""
      }
      val fmtFails = when(isMissing, empty).otherwise(
        filter(transform(raw, (x, i) =>
          when(!elemBlank(x) && !formatOk(effectiveValue(x, f), f),
            err(x, "Bad value", "is invalid", elemLoc(i))).otherwise(nullErr)),
          e => e.isNotNull))
      val constraintFails = constraintChecks(element_at(raw, 1), f).indices.map { ci =>
        // rebuild each check against the element lambda variable
        when(isMissing, empty).otherwise(
          filter(transform(raw, (x, i) => {
            val (cond, cat, msg) = constraintChecks(effectiveValue(x, f), f)(ci)
            when(!elemBlank(x) && formatOk(effectiveValue(x, f), f) && cond,
              err(x, cat, msg, elemLoc(i))).otherwise(nullErr)
          }), e => e.isNotNull))
      }
      (Seq(blank, fmtFails) ++ constraintFails).reduce(concat(_, _))
    } else if (f.fields.nonEmpty && f.isArray) {
      // Arrays of nested models: every element is validated against the
      // nested spec, each leaf with its own blank/format/constraint checks
      // (ref: models.py:198-209 — pydantic validates list[Model] items
      // element-wise), errors reported at the dotted path with the element
      // index (<label>.<i>.<leaf>).
      val isMissing = raw.isNull || size(raw) === 0
      val presence =
        if (f.mandatory) when(isMissing, array(err(raw, "Blank", "cannot be blank"))).otherwise(empty)
        else empty
      val elemErrs = f.fields.map { sub =>
        when(isMissing, empty).otherwise(
          flatten(transform(raw, (x, i) =>
            fieldErrorsAt(x.getField(sub.name), sub, s"$label.${sub.name}",
              concat(elemLoc(i), lit("." + sub.name))))))
      }
      (presence +: elemErrs).reduce(concat(_, _))
    } else if (f.fields.nonEmpty) {
      // Nested model (struct): presence here, then each subfield validated
      // in place with its own spec at the dotted path.
      val isMissing = raw.isNull
      val presence =
        if (f.mandatory) when(isMissing, array(err(raw, "Blank", "cannot be blank"))).otherwise(empty)
        else empty
      val subErrs = f.fields.map(sub =>
        when(isMissing, empty).otherwise(
          fieldErrorsAt(raw.getField(sub.name), sub, s"$label.${sub.name}",
            concat(locCol, lit("." + sub.name)))))
      (presence +: subErrs).reduce(concat(_, _))
    } else {
      // Field-function failures, routed by each function's error_type
      // (ref: function_wrapper.py:48-181). A rejecting failure supersedes
      // the downstream Blank error its nulled value would otherwise raise —
      // the reference's validator raises exactly one error per field.
      val base = defaulted(raw, f)
      val fnFails = functionFailures(base, f)
      val rejected = fnFails.collect { case (cond, _, "error", _) => cond }
        .reduceOption(_ || _).getOrElse(lit(false))
      // rejecting function failures surface as pydantic errors ("Bad
      // value"/"is invalid", the wrapper's text discarded like any other
      // ValueError); warn-only functions ride the warning lane with their
      // own text (ref: function_wrapper.py:48-181 + validation.py:106-150)
      val fnErrs = fnFails.map { case (cond, msg, status, failure) =>
        val e =
          if (status == "informational") mkErr(base, "Wrong format", lit(msg), status, failure)
          else mkErr(base, "Bad value", lit("is invalid"), status, failure)
        when(cond, array(e)).otherwise(empty)
      }
      val c = effectiveValue(raw, f)
      val isMissing = c.isNull || trim(c.cast(StringType)) === ""
      val blank =
        when(isMissing && lit(f.mandatory) && !rejected,
          array(err(c, "Blank", "cannot be blank")))
          .otherwise(empty)
      // parse failure = pydantic type/value error -> "Bad value"/"is
      // invalid" (ref: message.py:253-256 — "Wrong format" is NEVER an
      // error category in the contract lane, only the warning default)
      val fmtFail = when(!isMissing && !formatOk(c, f),
        array(err(c, "Bad value", "is invalid"))).otherwise(empty)
      val constraints = constraintChecks(c, f).map { case (cond, cat, msg) =>
        when(!isMissing && formatOk(c, f) && cond, array(err(c, cat, msg)))
          .otherwise(empty)
      }
      // NHS sentinel/test-number warnings: informational, never rejecting —
      // values that PASS the checksum but indicate test data
      // (ref: domain_types.py:44-163 SENTINEL_VALUES / starts-with-9 /
      // palindrome warnings). permissivenhsno keeps the checksum but NOT
      // the warnings unless warn_on_test_numbers opted in (ref:
      // domain_types.py:166-174).
      val warnings =
        if (f.typeName == "nhsnumber" ||
            (f.typeName == "permissivenhsno" && f.warnOnTestNumbers.contains(true))) {
          val cleaned = regexp_replace(regexp_replace(trim(c), " ", ""), "-", "")
          val reason =
            when(cleaned === "0000000000", lit("returned by MPS to indicate no match"))
              .when(cleaned === "1111111111", lit("common example value given for patient-facing forms"))
              .when(cleaned === "9999999999", lit("returned by MPS to indicate multiple matches"))
              .when(cleaned === "0123456789", lit("common example value given for patient-facing forms"))
              .when(cleaned.startsWith("9"), lit("NHS number starts with '9': this indicates a test number"))
              .when(cleaned === reverse(cleaned), lit("NHS number is a palindrome: this indicates a test number"))
          Seq(when(!isMissing && formatOk(c, f) && reason.isNotNull,
            array(warnErr(c, concat(lit("NHS number possibly invalid ("), reason, lit(")")))))
            .otherwise(empty))
        } else Nil
      (Seq(blank, fmtFail) ++ fnErrs ++ constraints ++ warnings).reduce(concat(_, _))
    }
  }

  /** One projection computing every field's errors; rows with no errors keep
    * an empty array.
    */
  def withErrors(df: DataFrame, spec: EntitySpec, errorsCol: String = "__errors__"): DataFrame = {
    val allErrors = spec.fields.map(fieldErrors) match {
      case Nil => array().cast(s"array<$errorStruct>")
      case xs  => xs.reduce(concat(_, _))
    }
    df.withColumn(errorsCol, allErrors)
  }

  /** Validation messages as a DataFrame in the canonical message schema.
    * Key fields default to the spec's `key_field` (ref: error_utils.py:30-65).
    */
  def validate(df: DataFrame, spec: EntitySpec): DataFrame =
    validate(df, spec, spec.keyField.toSeq)

  def validate(df: DataFrame, spec: EntitySpec, keyFields: Seq[String]): DataFrame = {
    val hasIndex = df.columns.contains(RecordIndexColumn)
    // Raw record columns referenced by any override's message template must
    // survive the explode so the message can be built per error row.
    val templateVars = spec.errorDetails.values.flatten
      .flatMap(_._2.errorMessage).flatMap(templateVarNames)
      .filterNot(_ == ErrorValueVar)
      .map(_.split('.').head) // dotted paths traverse structs from a root column
      .filter(df.columns.contains).toSeq.distinct
    val baseCols = Seq(
      (if (hasIndex) col(RecordIndexColumn) else lit(null).cast(LongType)).as("__ri__"),
      Messages.keyColumn(df.columns.toSeq, keyFields).as("__key__")) ++
      templateVars.map(v => col(s"`$v`"))
    val baseNames = Seq("__ri__", "__key__") ++ templateVars

    // Array fields (scalar each_item and arrays of nested models) are
    // validated through an exploded lineage: element checks run as a
    // top-level codegen'd projection over one row per element, instead of
    // inside transform/filter lambdas (HOFs are CodegenFallback — the
    // interpreted per-element trees were ~10x the whole contract's cost).
    val (arrayFields, scalarFields) = spec.fields.partition(_.isArray)
    val scalarErrs = withErrors(df, spec.copy(fields = scalarFields))
      .select(explode(col("__errors__")).as("e") +: baseCols: _*)
    val arrayErrs = arrayFields.flatMap(arrayFieldErrorFrames(df, _, baseCols, baseNames))
    val exploded = (scalarErrs +: arrayErrs).reduce(_ unionByName _)

    // Per-(field, category) override chains (ref: message.py:243-279): each
    // is a static when-chain over the error struct — plan-time config, no
    // join, stays inside the projection.
    val matches = spec.errorDetails.toSeq.sortBy(_._1).flatMap { case (field, byCat) =>
      byCat.toSeq.sortBy(_._1).map { case (cat, d) =>
        (col("e.field") === field && col("e.category") === cat, d)
      }
    }
    def over(default: Column)(pick: ErrorDetail => Option[Column]): Column =
      matches.foldRight(default) { case ((cond, d), acc) =>
        pick(d).map(c => when(cond, c).otherwise(acc)).getOrElse(acc)
      }
    val entityCol = over(lit(spec.name))(d => d.reportingEntity.map(lit))
    val failureCol = over(col("e.failure"))(d => Some(lit(d.errorLevel)))
    // an override never demotes an informational warning to an error
    val statusCol = over(col("e.status"))(d =>
      if (d.isInformational) Some(lit("informational"))
      else Some(when(col("e.status") === "informational", "informational").otherwise("error")))
    // default message = the lane text itself ("cannot be blank" / "is
    // invalid" / the warning's message), NO field prefix — the reference
    // reports the detail template verbatim and locates the field via
    // ErrorLocation/ReportingField (test_spark_pipeline.py pins the plain
    // "is invalid" for every un-overridden error)
    val messageCol = over(col("e.message"))(d =>
      d.errorMessage.map(renderTemplate(_, templateVars.toSet)))
    val codeCol = over(
      when(col("e.category") === "Blank", "FieldBlank")
        .when(col("e.category") === "Wrong format", "WrongFormat")
        .otherwise("BadValue"))(d => Some(lit(d.errorCode)))

    exploded.select(
      entityCol.as("Entity"),
      col("__key__").as("Key"),
      failureCol.as("FailureType"),
      statusCol.as("Status"),
      col("e.category").as("ErrorType"),
      // the INDEXED location: element indices included for array-element
      // errors, like the pydantic loc tuple the reference stringifies
      // (message.py:272) — e.field keeps the index-free override key
      col("e.loc").as("ErrorLocation"),
      messageCol.as("ErrorMessage"),
      codeCol.as("ErrorCode"),
      // the last loc segment: the reference reports loc[-1] as
      // reporting_field (message.py:274) — the leaf field name for nested
      // paths, the element index for scalar array elements
      substring_index(col("e.loc"), ".", -1).as("ReportingField"),
      col("__ri__").as("RecordIndex"),
      col("e.value").as("Value"),
      col("e.category").as("Category"))
  }

  /** Error-row frames for one top-level array field: a presence frame (the
    * mandatory Blank lane, evaluated on the un-exploded row) and an element
    * frame (`explode` the array, then run the SAME per-element checks as the
    * HOF formulation in [[fieldErrorsAt]] — blank elements skipped, format
    * gate before constraints, raw element as the reported value — as a
    * plain projection that stays inside whole-stage codegen).
    */
  private def arrayFieldErrorFrames(df: DataFrame, f: FieldSpec,
                                    baseCols: Seq[Column], baseNames: Seq[String]): Seq[DataFrame] = {
    val raw = col(s"`${f.name}`")
    val empty = array().cast(s"array<$errorStruct>")
    val presence =
      if (f.mandatory)
        Seq(df.where(raw.isNull || size(raw) === 0).select(
          errStruct(f.name, raw, "Blank", lit("cannot be blank")).as("e") +: baseCols: _*))
      else Nil

    val x = col("`__elem__`")
    // posexplode keeps the 0-based element index so locations stay indexed
    // (<field>.<i>[.<leaf>]) like the reference's pydantic loc tuples
    val pos = col("`__pos__`")
    val elemLoc = concat(lit(f.name + "."), pos.cast(org.apache.spark.sql.types.StringType))
    val elemErrArray =
      if (f.fields.isEmpty) {
        // scalar each_item: mirror the HOF branch element-for-element
        val e = effectiveValue(x, f)
        val elemBlank = e.isNull || trim(e) === ""
        val okFmt = formatOk(e, f)
        val fmt = when(!elemBlank && !okFmt,
          array(errStruct(f.name, x, "Bad value", lit("is invalid"),
            loc = elemLoc))).otherwise(empty)
        val constraints = constraintChecks(e, f).map { case (cond, cat, msg) =>
          when(!elemBlank && okFmt && cond,
            array(errStruct(f.name, x, cat, lit(msg), loc = elemLoc))).otherwise(empty)
        }
        (fmt +: constraints).reduce(concat(_, _))
      } else {
        // array of nested models: each leaf validated at its dotted path —
        // on the exploded element these are ordinary (non-HOF) expressions
        f.fields.map(sub =>
          fieldErrorsAt(x.getField(sub.name), sub, s"${f.name}.${sub.name}",
            concat(elemLoc, lit("." + sub.name))))
          .reduce(concat(_, _))
      }
    // Explicit cheap pre-prune: posexplode emits nothing for null/empty
    // arrays, so this drops exactly the rows it would drop — but as an
    // attribute-level predicate it costs nothing and pushes isnotnull into
    // the scan. (InferFiltersFromGenerate used to synthesize it; the rule is
    // excluded session-wide because on COMPUTED generator inputs its filter
    // re-inlines the whole tree below the projections — see GraftSession.
    // Here the input is a plain column, the one case where it was a win.)
    val elems = df.where(raw.isNotNull && size(raw) > 0)
      .select(baseCols ++ Seq(posexplode(raw).as(Seq("__pos__", "__elem__"))): _*)
      .select(explode(elemErrArray).as("e") +: baseNames.map(n => col(s"`$n`")): _*)
    presence :+ elems
  }

  // ------------------------------------------------- error-detail templating

  /** The template variable bound to the offending value
    * (ref: core_engine/constants.py:6).
    */
  val ErrorValueVar = "__error_value"

  private val templateVarRegex = "\\{\\{\\s*([A-Za-z0-9_.]+)\\s*\\}\\}".r

  private def templateVarNames(template: String): Seq[String] =
    templateVarRegex.findAllMatchIn(template).map(_.group(1)).toSeq

  /** `{{var}}` -> the record's raw column (dotted paths traverse structs),
    * `{{__error_value}}` -> the error's recorded value; unknown variables
    * render empty (lenient, like the reference's jinja environment). Built
    * as a concat of literals and casts — one codegen'd expression.
    */
  private def renderTemplate(template: String, available: Set[String]): Column = {
    val parts = Seq.newBuilder[Column]
    var last = 0
    templateVarRegex.findAllMatchIn(template).foreach { m =>
      if (m.start > last) parts += lit(template.substring(last, m.start))
      val v = m.group(1)
      val path = v.split('.')
      parts += (
        if (v == ErrorValueVar) coalesce(col("e.value"), lit(""))
        else if (!available.contains(path.head)) lit("") // lenient: unknown renders empty
        else {
          val c = path.tail.foldLeft(col(s"`${path.head}`"))(_ getField _)
          coalesce(c.cast(StringType), lit(""))
        })
      last = m.end
    }
    if (last < template.length) parts += lit(template.substring(last))
    val ps = parts.result()
    if (ps.isEmpty) lit("") else if (ps.size == 1) ps.head else concat(ps: _*)
  }

  // ---------------------------------------------------------------- cast
  private def targetType(f: FieldSpec): DataType = f.typeName match {
    case "int" | "long" | "conint"   => LongType
    case "float" | "double"          => DoubleType
    case "bool"                      => BooleanType
    case "date" | "conformatteddate" => DateType
    case "reportingperiodstart" | "reportingperiodend" => DateType
    case "datetime" | "formatteddatetime" => TimestampType
    case "decimal" | "condecimal"    =>
      DecimalType(f.precision.getOrElse(38), f.scale.getOrElse(18))
    case _                           => StringType // str + domain/string types + time
  }

  /** Cast statement for one (possibly nested) field over a stringified column
    * (ref: spark_helpers.py:516-621): TRIM for scalars, regex-guarded
    * TRY_TO_TIMESTAMP for formatted dates, TRANSFORM for arrays, STRUCT
    * recursion for models. Failed casts become null; MESSAGES decide
    * rejection, not the cast.
    */
  private def castExpr(c0: Column, f: FieldSpec): Column =
    if (f.isArray) transform(c0, x => castExpr(x, f.copy(isArray = false)))
    else if (f.fields.nonEmpty)
      struct(f.fields.map(sf => castExpr(c0.getField(sf.name), sf).as(sf.name)): _*)
    else scalarCast(effectiveValue(c0, f), f)

  private def scalarCast(x: Column, f: FieldSpec): Column = f.typeName match {
    case "reportingperiodstart" | "reportingperiodend" =>
      reportingPeriodDate(x, f)
    case "formatteddatetime" if f.format.isEmpty =>
      flexDatetime(x)
    case "date" | "conformatteddate" | "datetime" | "formatteddatetime" =>
      val parsed = f.format match {
        case Some(fmt) =>
          when(trim(x).rlike(FieldSpec.strptimeToRegex(fmt)),
            try_to_timestamp(trim(x), lit(FieldSpec.strptimeToJava(fmt))))
            .otherwise(lit(null).cast(TimestampType))
        case None => trim(x).try_cast(TimestampType)
      }
      parsed.cast(targetType(f))
    case "postcode" => postcodeNormExpr(trim(x))
    case "bool" =>
      when(lower(trim(x)).isin(boolTrue: _*), lit(true))
        .when(lower(trim(x)).isin(boolFalse: _*), lit(false))
        .otherwise(lit(null).cast(BooleanType))
    // try_cast everywhere a source value can be malformed: failed casts
    // must become null (messages decide rejection), and Spark 4's ANSI
    // default makes plain cast THROW on unparseable input.
    case _ => trim(x).try_cast(targetType(f))
  }

  /** Project the stringified frame to typed columns (one projection). */
  def cast(df: DataFrame, spec: EntitySpec): DataFrame = {
    val keep = if (df.columns.contains(RecordIndexColumn))
      Seq(col(RecordIndexColumn)) else Nil
    df.select(spec.fields.map(f => castExpr(col(s"`${f.name}`"), f).as(f.name)) ++ keep: _*)
  }

  /** Rename aliased columns to their field names and strip whitespace from
    * header names (ref: models.py:280, 368-374).
    */
  def applyAliases(df: DataFrame, spec: EntitySpec): DataFrame = {
    val stripped = df.columns.foldLeft(df) { (d, c0) =>
      if (c0.trim != c0) d.withColumnRenamed(c0, c0.trim) else d
    }
    spec.aliases.foldLeft(stripped) { case (d, (field, alias)) =>
      if (d.columns.contains(alias) && !d.columns.contains(field))
        d.withColumnRenamed(alias, field)
      else d
    }
  }

  /** Full contract: (typed entity, validation messages). */
  def apply(df: DataFrame, spec: EntitySpec): (DataFrame, DataFrame) = {
    val aliased = applyAliases(df, spec)
    (cast(aliased, spec), validate(aliased, spec))
  }

  /** Post-hoc record rejection: drop rows whose index appears in the error
    * frame (ref: spark_helpers.py:393-431 anti-join on __record_index__).
    */
  def filterContractErrors(entity: DataFrame, messages: DataFrame): DataFrame = {
    val bad = messages
      .where(col("FailureType") === "record" && col("Status") =!= "informational")
      .select(col("RecordIndex").as(RecordIndexColumn)).distinct()
    // No broadcast hint: the reject set is unbounded (a bad submission can
    // fail billions of rows) — AQE picks broadcast when it is actually small.
    entity.join(bad, Seq(RecordIndexColumn), "left_anti")
  }
}
