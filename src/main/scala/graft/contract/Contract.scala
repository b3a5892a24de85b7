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
  * Each field value is parsed ONCE ([[parse]]): the typed value the cast
  * projects is the value the messages judge, so a value that passes
  * validation never casts to a silent NULL.
  *
  * Error categories follow the reference (ref: core_engine/message.py:67-73):
  * Blank (missing mandatory) and Bad value (a value that does not parse as
  * its type, or violates a constraint); Wrong format is the warning lane's
  * category only.
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
  private val floatRegex = "^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$"
  // the pydantic v1 bool families (bool_validator): planets.csv.csv's
  // Yes/No booleans must parse with 0 rejections, as its feature asserts
  private val boolTrue = Seq("true", "t", "yes", "y", "on", "1")
  private val boolFalse = Seq("false", "f", "no", "n", "off", "0")
  // ref: metadata_parser/domain_types.py:32
  private val postcodeRegex = "^[a-zA-Z]{1,2}[0-9]([a-zA-Z]?|[0-9]?) [0-9][a-zA-Z]{2}$"
  private val orgIdRegex = "^[A-Z0-9]{3,5}$" // ref: domain_types.py:239-255
  private val nullPostcodes = Seq("tba", "tbc", "na", "n/a", "no valid")
  // the types whose typed value is a number: the only ones bounds apply to
  private val numericTypes = Set("int", "long", "conint", "float", "double", "decimal", "condecimal")

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

  /** A field function's failure: condition, message, status, failure kind. */
  private type FnFailure = (Column, String, String, String)

  /** Apply the field's validation/normalisation functions in order
    * (ref: metadata_parser/function_library.py:33-64), each null-passing
    * (ref: function_library.py:8-29 `_nullcheck`). These transform the RAW
    * value before the parse — pydantic validator semantics. Returns the
    * value and the failures, each evaluated against the value the
    * PRECEDING functions left (validator chain order) and routed by its
    * function's error type (ref: function_wrapper.py:48-181 +
    * models.py:52-93): `record_rejection` -> record-level error,
    * `file_rejection` -> submission-level error (fails the whole file),
    * `warning` -> informational record message. A `warning` function never
    * modifies the value on failure (the reference's wrapper logs and
    * returns the original); rejecting error types null the value.
    */
  private def applyFunctions(c0: Column, f: FieldSpec): (Column, Seq[FnFailure]) =
    f.functions.foldLeft((c0, Seq.empty[FnFailure])) { case ((v, failures), fn) =>
      val blank = v.isNull || trim(v) === ""
      val warnOnly = fn.errorType == "warning"
      val (applied, failure): (Column, Option[(Column, String)]) = fn.name match {
        case "normalise" =>
          (if (fn.kwargs.get("capitalize").exists(_.equalsIgnoreCase("true")))
            concat(upper(substring(v, 1, 1)), lower(substring(v, 2, Int.MaxValue)))
          else v, None)
        case "exclude_word" =>
          val word = fn.kwargs.getOrElse("word", "")
          val hit = instr(lower(v), word.toLowerCase) > 0
          (if (warnOnly) v else when(hit, lit(null).cast(StringType)).otherwise(v),
            Some(hit -> s"contains excluded word '$word'"))
        case "split" =>
          val sep = fn.kwargs.getOrElse("split_on", ",")
          val keep = fn.kwargs.get("keep").map(_.toInt).getOrElse(0)
          // an out-of-range keep nulls the value; warn-only keeps the raw one
          val part = get(split(v, java.util.regex.Pattern.quote(sep)), lit(keep))
          (if (warnOnly) when(part.isNull, v).otherwise(part) else part,
            Some(part.isNull -> s"cannot be split on '$sep' (part $keep missing)"))
        case "static_key" => (lit("1"), None) // ignores the input value
        case other =>
          throw new IllegalArgumentException(s"unknown field function: '$other'")
      }
      val (status, kind) = fn.errorType match {
        case "file_rejection" => ("error", "submission")
        case "warning"        => ("informational", "record")
        case _                => ("error", "record")
      }
      (if (fn.name == "static_key") applied else when(blank, v).otherwise(applied),
        failures ++ failure.map { case (hit, msg) => (!blank && hit, msg, status, kind) })
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
    applyFunctions(defaulted(c, f), f)._1

  // ---------------------------------------------------------------- the one parse

  /** The ONE parse of a field value: (typed value, valid). The typed value
    * is what [[cast]] projects and what the bound checks compare; `valid`
    * is the messages' parse check, so a value that passes validation never
    * casts to a silent NULL. Valid means a non-null typed value, except
    * where the type's text grammar is stricter than Spark's cast: floats
    * keep their regex as the test (`try_cast` also takes `1D`, `inf` and
    * `NaN`), a decimal is cast only when it passes the same regex (`try_cast`
    * strips tabs and control characters too), and the string-typed domain
    * types keep their format or checksum predicate over the trimmed string.
    * try_cast everywhere (ref: spark_helpers.py:516-621 — TRIM,
    * regex-guarded TRY_TO_TIMESTAMP): Spark 4's ANSI default makes a plain
    * cast THROW on unparseable input.
    */
  private def parse(c: Column, f: FieldSpec): (Column, Column) = {
    val t = trim(c)
    def parsed(v: Column): (Column, Column) = (v, v.isNotNull)
    def formatted(fmt: String): Column =
      when(t.rlike(FieldSpec.strptimeToRegex(fmt)),
        try_to_timestamp(t, lit(FieldSpec.strptimeToJava(fmt))))
        .otherwise(lit(null).cast(TimestampType))
    f.typeName match {
      case "int" | "long" | "conint" => parsed(t.try_cast(LongType))
      case "float" | "double"        => (t.try_cast(DoubleType), t.rlike(floatRegex))
      case "decimal" | "condecimal"  => parsed(when(t.rlike(floatRegex),
        t.try_cast(DecimalType(f.precision.getOrElse(38), f.scale.getOrElse(18)))))
      case "bool" =>
        parsed(when(lower(t).isin(boolTrue: _*), lit(true))
          .when(lower(t).isin(boolFalse: _*), lit(false))
          .otherwise(lit(null).cast(BooleanType)))
      case "date" | "conformatteddate" =>
        parsed(f.format.fold(t.try_cast(DateType))(formatted(_).cast(DateType)))
      case "datetime"          => parsed(f.format.fold(t.try_cast(TimestampType))(formatted))
      case "formatteddatetime" => parsed(f.format.fold(flexDatetime(c))(formatted))
      case "reportingperiodstart" | "reportingperiodend" => parsed(reportingPeriodDate(c, f))
      case "postcode" =>
        val norm = postcodeNormExpr(t)
        (norm, norm.isNull || norm.rlike(postcodeRegex))
      case "nhsnumber" | "permissivenhsno" => (t, nhsCheckExpr(t))
      case "time" | "formattedtime" => (t, t.rlike("^\\d{2}:\\d{2}(:\\d{2})?$"))
      case "orgid"        => (t, t.rlike(orgIdRegex))
      case "alphanumeric" => (t, t.rlike("^[a-zA-Z0-9]*$"))
      case "identifier"   => (t, t.rlike("^[a-zA-Z0-9_-]*$"))
      case _              => (t, lit(true)) // str: any text is well-formed
    }
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

  /** The constraints a parsed value violates, one condition each; `value`
    * is its typed form, which the bounds compare.
    */
  private def violations(c: Column, value: Column, f: FieldSpec): Seq[Column] = {
    val t = trim(c)
    def bound(b: Option[BigDecimal])(out: (Column, Column) => Column): Option[Column] = b.map { v =>
      require(numericTypes(f.typeName),
        s"field '${f.name}': ge/le/gt/lt need a numeric type, not '${f.typeName}'")
      out(value, lit(v.bigDecimal.toPlainString.toDouble))
    }
    Seq(
      f.minLength.map(n => length(t) < n),
      f.maxLength.map(n => length(t) > n),
      f.regex.map(r => !t.rlike(r)),
      bound(f.ge)(_ < _), bound(f.le)(_ > _), bound(f.gt)(_ <= _), bound(f.lt)(_ >= _),
      // timezone policy for flexible datetimes (ref: domain_types.py:420-428)
      (if (f.typeName == "formatteddatetime" && f.format.isEmpty)
        f.timezoneTreatment.collect {
          case "forbid"  => flexHasTimezone(c)
          case "require" => !flexHasTimezone(c)
        }
      else None),
      // reporting periods must sit on month boundaries (ref: domain_types.py:585-611)
      (if (f.typeName == "reportingperiodstart") Some(dayofmonth(value) =!= 1) else None),
      (if (f.typeName == "reportingperiodend") Some(value =!= last_day(value)) else None)
    ).flatten
  }

  private def noErrors: Column = array().cast(s"array<$errorStruct>")

  /** The errors of a present value: `err` once if it does not parse, else
    * once per violated constraint. Every one is "Bad value"/"is invalid":
    * the reference DISCARDS the pydantic error's own text and renders the
    * (field, category) error-detail template, whose "Bad value" default is
    * literally "is invalid" (ref: message.py:68-69 DEFAULT_ERROR_DETAIL,
    * :253-276 from_validation_error; tests/test_pipeline/
    * test_spark_pipeline.py pins ErrorMessage "is invalid" for not_ge,
    * max_length and bool failures alike). "Wrong format" is NEVER an error
    * category in the contract lane, only the warning default.
    */
  private def badValues(c: Column, f: FieldSpec, present: Column, err: Column): Seq[Column] = {
    val (value, valid) = parse(c, f)
    (!valid +: violations(c, value, f).map(valid && _))
      .map(bad => when(present && bad, array(err)).otherwise(noErrors))
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

  /** The errors of one array element located at `at` (ref: models.py:198-209
    * — pydantic validates `each_item` values and list[Model] items
    * element-wise): a scalar element is skipped when blank and reported
    * raw; a model element validates each leaf at `<label>.<leaf>`.
    */
  private def elementErrors(x: Column, f: FieldSpec, label: String, at: Column): Column =
    if (f.fields.isEmpty) {
      val e = effectiveValue(x, f)
      badValues(e, f, !(e.isNull || trim(e) === ""),
        errStruct(label, x, "Bad value", lit("is invalid"), loc = at)).reduce(concat(_, _))
    } else
      f.fields.map(sub => fieldErrorsAt(x.getField(sub.name), sub, s"$label.${sub.name}",
        concat(at, lit("." + sub.name)))).reduce(concat(_, _))

  /** Errors for a field value at a (possibly nested) location: `label` is the
    * dotted path reported as the error's field (matching the reference's
    * `subfield.id` locations and the error-detail override keys); `locAt`
    * is the INDEXED location (element indices included, like the pydantic
    * loc tuple the reference reports, ref: message.py:272) — it defaults to
    * the label when no array is on the path.
    */
  private def fieldErrorsAt(raw: Column, f: FieldSpec, label: String,
                            locAt: Column = null): Column = {
    val locCol = if (locAt == null) lit(label) else locAt

    def err(value: Column, category: String, message: String,
            status: String = "error", failure: String = "record"): Column =
      errStruct(label, value, category, lit(message), status, failure, locCol)

    // the mandatory Blank lane of an absent array or model
    def presence(isMissing: Column): Column =
      if (f.mandatory) when(isMissing, array(err(raw, "Blank", "cannot be blank"))).otherwise(noErrors)
      else noErrors

    if (f.isArray) {
      // In-row arrays ([[validate]] explodes top-level arrays instead, so
      // there these are arrays inside models): every element checked by
      // [[elementErrors]] at its indexed location <loc>.<i> (0-based, like
      // pydantic); transform with the index lambda keeps positions (a
      // pre-filter would renumber them).
      val isMissing = raw.isNull || size(raw) === 0
      concat(presence(isMissing), when(isMissing, noErrors).otherwise(
        flatten(transform(raw, (x, i) =>
          elementErrors(x, f, label, concat(locCol, lit("."), i.cast(StringType)))))))
    } else if (f.fields.nonEmpty) {
      // Nested model (struct): presence here, then each subfield validated
      // in place with its own spec at the dotted path.
      val isMissing = raw.isNull
      (presence(isMissing) +: f.fields.map(sub =>
        when(isMissing, noErrors).otherwise(
          fieldErrorsAt(raw.getField(sub.name), sub, s"$label.${sub.name}",
            concat(locCol, lit("." + sub.name)))))).reduce(concat(_, _))
    } else {
      // Field-function failures, routed by each function's error_type
      // (ref: function_wrapper.py:48-181). A rejecting failure supersedes
      // the downstream Blank error its nulled value would otherwise raise —
      // the reference's validator raises exactly one error per field.
      // Rejecting failures surface as pydantic errors ("Bad value"/"is
      // invalid", the wrapper's text discarded like any other ValueError);
      // warn-only functions ride the warning lane with their own text
      // (ref: validation.py:106-150).
      val base = defaulted(raw, f)
      val (c, fnFails) = applyFunctions(base, f)
      val rejected = fnFails.collect { case (cond, _, "error", _) => cond }
        .reduceOption(_ || _).getOrElse(lit(false))
      val fnErrs = fnFails.map { case (cond, msg, status, failure) =>
        val e =
          if (status == "informational") err(base, "Wrong format", msg, status, failure)
          else err(base, "Bad value", "is invalid", status, failure)
        when(cond, array(e)).otherwise(noErrors)
      }
      val isMissing = c.isNull || trim(c.cast(StringType)) === ""
      val blank =
        when(isMissing && lit(f.mandatory) && !rejected,
          array(err(c, "Blank", "cannot be blank")))
          .otherwise(noErrors)
      val bad = badValues(c, f, !isMissing, err(c, "Bad value", "is invalid"))
      // NHS sentinel/test-number warnings: informational, never rejecting —
      // values that PASS the checksum but indicate test data
      // (ref: domain_types.py:44-163 SENTINEL_VALUES / starts-with-9 /
      // palindrome warnings). permissivenhsno keeps the checksum but NOT
      // the warnings unless warn_on_test_numbers opted in (ref:
      // domain_types.py:166-174). Warnings carry category "Wrong format" +
      // their own text — the reference's warning lane (validation.py:106-150
      // handle_warnings: category="Wrong format", code from the detail's
      // "Wrong format" key, message = str(warning)).
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
          Seq(when(!isMissing && parse(c, f)._2 && reason.isNotNull,
            array(errStruct(label, c, "Wrong format",
              concat(lit("NHS number possibly invalid ("), reason, lit(")")),
              "informational", "record", locCol)))
            .otherwise(noErrors))
        } else Nil
      (Seq(blank, bad.head) ++ fnErrs ++ bad.tail ++ warnings).reduce(concat(_, _))
    }
  }

  /** One projection computing every field's errors; rows with no errors keep
    * an empty array.
    */
  def withErrors(df: DataFrame, spec: EntitySpec, errorsCol: String = "__errors__"): DataFrame =
    df.withColumn(errorsCol,
      spec.fields.map(f => fieldErrorsAt(col(s"`${f.name}`"), f, f.name))
        .reduceOption(concat(_, _)).getOrElse(noErrors))

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
    * HOF formulation in [[fieldErrorsAt]], [[elementErrors]], as a plain
    * projection that stays inside whole-stage codegen).
    */
  private def arrayFieldErrorFrames(df: DataFrame, f: FieldSpec,
                                    baseCols: Seq[Column], baseNames: Seq[String]): Seq[DataFrame] = {
    val raw = col(s"`${f.name}`")
    val presence =
      if (f.mandatory)
        Seq(df.where(raw.isNull || size(raw) === 0).select(
          errStruct(f.name, raw, "Blank", lit("cannot be blank")).as("e") +: baseCols: _*))
      else Nil
    // posexplode keeps the 0-based element index so locations stay indexed
    // (<field>.<i>[.<leaf>]) like the reference's pydantic loc tuples
    val elemErrArray = elementErrors(col("`__elem__`"), f, f.name,
      concat(lit(f.name + "."), col("`__pos__`").cast(StringType)))
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

  /** Cast statement for one (possibly nested) field over a stringified column
    * (ref: spark_helpers.py:516-621): [[parse]]'s typed value for scalars,
    * TRANSFORM for arrays, STRUCT recursion for models. Failed parses become
    * null; MESSAGES decide rejection, not the cast.
    */
  private def castExpr(c0: Column, f: FieldSpec): Column =
    if (f.isArray) transform(c0, x => castExpr(x, f.copy(isArray = false)))
    else if (f.fields.nonEmpty)
      struct(f.fields.map(sf => castExpr(c0.getField(sf.name), sf).as(sf.name)): _*)
    else parse(effectiveValue(c0, f), f)._1

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
