package graft.contract

import graft.SparkSpec
import graft.readers.Readers
import org.apache.spark.sql.functions._

class ContractSpec extends SparkSpec {

  import spark.implicits._

  test("stringify -> cast round-trips typed values") {
    val spec = EntitySpec("planets", Seq(
      FieldSpec("name", "str"), FieldSpec("gravity", "double"),
      FieldSpec("mean_temp", "long"), FieldSpec("n_moons", "long")))
    val out = Contract.cast(Contract.stringify(planets), spec)
    assert(out.schema.map(_.dataType.simpleString) == Seq("string", "double", "bigint", "bigint"))
    assert(rows(out) == rows(planets.select(col("name"), col("gravity"),
      col("mean_temp").cast("long"), col("n_moons").cast("long"))))
  }

  test("mandatory blank produces a Blank/FieldBlank message") {
    val df = Seq(("", "x"), ("ok", null)).toDF("a", "b")
    val spec = EntitySpec("e", Seq(
      FieldSpec("a", "str", mandatory = true), FieldSpec("b", "str", mandatory = true)))
    val msgs = Contract.validate(df, spec)
    assert(msgs.count() == 2)
    assert(msgs.select("Category").distinct().collect().map(_.getString(0)).toSeq == Seq("Blank"))
    assert(msgs.where("ErrorLocation = 'a'").count() == 1)
  }

  test("every non-Blank contract error is Bad value / 'is invalid' (reference parity)") {
    // ref: message.py:253-256 — pydantic parse AND constraint failures all
    // categorize "Bad value"; "Wrong format" is warning-lane only
    val df = Seq(("12x", "5", "2020-13-40"), ("7", "99", "2020-01-31")).toDF("n", "m", "d")
    val spec = EntitySpec("e", Seq(
      FieldSpec("n", "long"),
      FieldSpec("m", "long", le = Some(BigDecimal(10))),
      FieldSpec("d", "date")))
    val msgs = Contract.validate(df, spec)
    val got = msgs.select("ErrorLocation", "Category", "ErrorMessage").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("n", "Bad value", "is invalid"), ("m", "Bad value", "is invalid"),
      ("d", "Bad value", "is invalid")))
  }

  test("one parse: the cast agrees with the messages where format, cast and bound parses split") {
    // (field, value, its "Bad value" messages, its cast)
    val cases = Seq[(FieldSpec, String, Int, Option[String])](
      (FieldSpec("v", "long"), "99999999999999999999", 1, None),
      (FieldSpec("v", "decimal"), "123456789012345678901", 1, None),
      (FieldSpec("v", "float", le = Some(BigDecimal(100))), "1e30", 1, Some("1.0E30")),
      (FieldSpec("v", "date"), "2024-01-01T", 0, Some("2024-01-01")),
      (FieldSpec("v", "date"), "10:00:00", 1, None),
      (FieldSpec("v", "date"), "2024-01-01 23:30:00-05:00", 0, Some("2024-01-01")))
    for ((f, v, bad, typed) <- cases) {
      val (df, spec) = (Seq(v).toDF("v"), EntitySpec("e", Seq(f)))
      val msgs = Contract.validate(df, spec).select("Category", "ErrorMessage")
        .as[(String, String)].collect().toSeq
      assert(msgs == Seq.fill(bad)(("Bad value", "is invalid")), s"${f.typeName} '$v'")
      assert(Option(Contract.cast(df, spec).head().get(0)).map(_.toString) == typed,
        s"${f.typeName} '$v'")
    }
  }

  test("arrays inside models validate per element at indexed locations") {
    // an array in a struct field and an array in each element of an array
    // of models: both validated inside the row (not the exploded lane of
    // top-level arrays)
    val df = spark.read.json(Seq(
      """{"id": "1", "inner": {"vals": ["1", "x", " ", "99"]},
        | "subs": [{"tags": ["7", "y"]}, {"tags": []}, {"tags": ["8", "200"]}]}""".stripMargin
        .replace("\n", ""),
      """{"id": "2", "inner": {}, "subs": [{"tags": null}]}""").toDS())
    val spec = EntitySpec("e", Seq(
      FieldSpec("id", "long"),
      FieldSpec("inner", fields = Seq(FieldSpec("vals", "long", isArray = true,
        mandatory = true, le = Some(BigDecimal(50))))),
      FieldSpec("subs", isArray = true, fields = Seq(FieldSpec("tags", "long", isArray = true,
        mandatory = true, le = Some(BigDecimal(100)))))))
    val got = Contract.validate(df, spec, Seq("id"))
      .select("Key", "ErrorLocation", "ReportingField", "Category", "ErrorMessage", "Value")
      .as[(String, String, String, String, String, String)].collect().toSet
    assert(got == Set(
      ("1", "inner.vals.1", "1", "Bad value", "is invalid", "x"),
      ("1", "inner.vals.3", "3", "Bad value", "is invalid", "99"),  // 99 > 50
      ("1", "subs.0.tags.1", "1", "Bad value", "is invalid", "y"),
      ("1", "subs.1.tags", "tags", "Blank", "cannot be blank", "[]"),
      ("1", "subs.2.tags.1", "1", "Bad value", "is invalid", "200"), // 200 > 100
      ("2", "inner.vals", "vals", "Blank", "cannot be blank", null),
      ("2", "subs.0.tags", "tags", "Blank", "cannot be blank", null)))
  }

  test("formatted date cast parses the declared format and nulls invalid values") {
    val df = Seq(("31/01/2020"), ("31/02/2020"), ("2020-01-31")).toDF("d")
    val spec = EntitySpec("e", Seq(FieldSpec("d", "date", format = Some("%d/%m/%Y"))))
    val out = Contract.cast(df, spec).collect().map(r => Option(r.getDate(0)).map(_.toString))
    assert(out.toSeq == Seq(Some("2020-01-31"), None, None))
  }

  test("nhsnumber mod-11 checksum validates; test numbers warn without rejecting") {
    // 9434765919 is checksum-valid but starts with 9 (test number -> warning);
    // 9434765918 fails the checksum (error)
    val df = Seq("9434765919", "943 476 5919", "9434765918").toDF("nhs")
    val spec = EntitySpec("e", Seq(FieldSpec("nhs", "nhsnumber")))
    val msgs = Contract.validate(df, spec)
    val errors = msgs.where("Status = 'error'")
    assert(errors.count() == 1)
    assert(errors.select("Value").collect().map(_.getString(0)).toSeq == Seq("9434765918"))
    val warns = msgs.where("Status = 'informational'")
    assert(warns.count() == 2) // both 9-prefixed forms warn
    assert(warns.select("ErrorMessage").collect().forall(_.getString(0).contains("test number")))
    // warnings never reject
    val kept = Contract.filterContractErrors(
      graft.readers.Readers.addRecordIndex(df),
      Contract.validate(graft.readers.Readers.addRecordIndex(df), spec))
    assert(kept.count() == 2)
  }

  test("nhsnumber sentinel values warn with their documented reasons") {
    val df = Seq("9999999999", "0000000000").toDF("nhs")
    val spec = EntitySpec("e", Seq(FieldSpec("nhs", "nhsnumber")))
    val msgs = Contract.validate(df, spec).where("Status = 'informational'")
    val got = msgs.select("ErrorMessage").collect().map(_.getString(0)).toSet
    assert(got.exists(_.contains("multiple matches")))
    assert(got.exists(_.contains("no match")))
  }

  test("postcode normalises and validates; placeholder values become null") {
    val df = Seq("sw1a1aa", "SW1A 1AA", "TBC", "NOT A PC").toDF("pc")
    val spec = EntitySpec("e", Seq(FieldSpec("pc", "postcode")))
    val out = Contract.cast(df, spec).collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("SW1A 1AA"), Some("SW1A 1AA"), None, Some("NOT APC")))
    val msgs = Contract.validate(df, spec)
    assert(msgs.select("Value").collect().map(_.getString(0)).toSeq == Seq("NOT A PC"))
  }

  test("record rejection anti-joins failing record indexes") {
    val df = Readers.addRecordIndex(
      Seq(("1", "a"), ("x", "b"), ("3", "c")).toDF("n", "s"))
    val spec = EntitySpec("e", Seq(FieldSpec("n", "long"), FieldSpec("s", "str")))
    val (typed, msgs) = Contract(df, spec)
    val kept = Contract.filterContractErrors(typed, msgs)
    assert(kept.select("s").collect().map(_.getString(0)).toSet == Set("a", "c"))
  }

  test("field functions: normalise, exclude_word, split, static_key") {
    val df = Seq(("hELLo", "contains BAD word", "a|b|c", "x")).toDF("n", "e", "s", "k")
    val spec = EntitySpec("e", Seq(
      FieldSpec("n", "str", functions = Seq(FieldFunction("normalise", kwargs = Map("capitalize" -> "true")))),
      FieldSpec("e", "str", functions = Seq(FieldFunction("exclude_word", kwargs = Map("word" -> "bad")))),
      FieldSpec("s", "str", functions = Seq(FieldFunction("split", kwargs = Map("split_on" -> "|", "keep" -> "1")))),
      FieldSpec("k", "long", functions = Seq(FieldFunction("static_key")))))
    val out = Contract.cast(df, spec).head()
    assert(out.getString(0) == "Hello")
    assert(out.isNullAt(1)) // word excluded -> null
    assert(out.getString(2) == "b")
    assert(out.getLong(3) == 1L)
  }

  test("defaults fill blank values before mandatory and type checks") {
    val df = Seq(("", "x"), ("7", "y")).toDF("n", "s")
    val spec = EntitySpec("e", Seq(
      FieldSpec("n", "long", mandatory = true, default = Some("0")), FieldSpec("s", "str")))
    assert(Contract.validate(df, spec).count() == 0) // default fills the blank
    assert(Contract.cast(df, spec).select("n").as[Long].collect().toSeq == Seq(0L, 7L))
  }

  test("aliases rename input columns; whitespace-padded headers are stripped") {
    val df = Seq((1, "x")).toDF("  id  ", "nom")
    val spec = EntitySpec("e",
      Seq(FieldSpec("id", "long"), FieldSpec("name", "str")),
      aliases = Map("name" -> "nom"))
    val (typed, msgs) = Contract(Contract.stringify(df), spec)
    assert(typed.columns.toSeq == Seq("id", "name"))
    assert(msgs.count() == 0)
  }

  test("array fields validate per element (each_item)") {
    val df = Seq(
      (1L, Seq("1", "2", "3")),
      (2L, Seq("4", "oops", "6", "nope")),
      (3L, Seq("7", "99"))).toDF("id", "vals")
    val spec = EntitySpec("e", Seq(
      FieldSpec("id", "long"),
      FieldSpec("vals", "long", isArray = true, le = Some(BigDecimal(50)))))
    val msgs = Contract.validate(df, spec)
    val got = msgs.select("Value", "Category").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("oops", "Bad value"), ("nope", "Bad value"), ("99", "Bad value")))
    // cast: failing elements null out, passing elements type
    val typed = Contract.cast(df, spec).where("id = 2").select("vals")
      .collect().head.getSeq[Any](0)
    assert(typed == Seq(4L, null, 6L, null))
  }

  test("nested model fields cast each leaf with its own type") {
    val df = spark.read.json(Seq(
      """{"id": "1", "inner": {"a": "42", "b": "xyz"}}""").toDS())
    val spec = EntitySpec("e", Seq(
      FieldSpec("id", "long"),
      FieldSpec("inner", fields = Seq(FieldSpec("a", "long"), FieldSpec("b", "str")))))
    val out = Contract.cast(df, spec)
    assert(out.schema("inner").dataType.simpleString == "struct<a:bigint,b:string>")
    val r = out.select("inner.a", "inner.b").head()
    assert(r.getLong(0) == 42L && r.getString(1) == "xyz")
  }

  test("nested-model arrays validate each element's fields (each_item)") {
    val df = spark.read.json(Seq(
      """{"id": "1", "subs": [{"sid": "7", "v": "10"}, {"sid": "", "v": "abc"}]}""",
      """{"id": "2", "subs": [{"sid": "8", "v": "99"}]}""",
      """{"id": "3"}""").toDS())
    val spec = EntitySpec("e", Seq(
      FieldSpec("id", "long"),
      FieldSpec("subs", isArray = true, mandatory = true, fields = Seq(
        FieldSpec("sid", "long", mandatory = true),
        FieldSpec("v", "long", le = Some(BigDecimal(50)))))))
    val msgs = Contract.validate(df, spec)
    val got = msgs.select("ErrorLocation", "Category").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    // locations carry the 0-based element index, like the pydantic loc
    // tuples the reference reports (message.py:272)
    assert(got == Seq(
      ("subs", "Blank"),            // row 3: mandatory array absent
      ("subs.1.sid", "Blank"),      // row 1 elem [1]: mandatory leaf blank
      ("subs.0.v", "Bad value"),    // row 2 elem [0]: 99 > 50
      ("subs.1.v", "Bad value")     // row 1 elem [1]: not a number
    ).sorted)
    // struct (non-array) nesting validates leaves in place too
    val one = spark.read.json(Seq("""{"inner": {"a": "oops"}}""").toDS())
    val m2 = Contract.validate(one,
      EntitySpec("e", Seq(FieldSpec("inner", fields = Seq(FieldSpec("a", "long"))))))
    assert(m2.select("ErrorLocation", "Category").collect().map(r =>
      (r.getString(0), r.getString(1))).toSeq == Seq(("inner.a", "Bad value")))
  }

  test("reporting periods enforce month boundaries") {
    val df = Seq(
      ("2024-02-01", "2024-02-29"),
      ("2024-02-02", "2024-02-28"),
      ("bad", "2024-03-31")).toDF("ps", "pe")
    val spec = EntitySpec("e", Seq(
      FieldSpec("ps", "reportingperiodstart"),
      FieldSpec("pe", "reportingperiodend")))
    val msgs = Contract.validate(df, spec)
    val got = msgs.select("ErrorLocation", "Value", "Category").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("ps", "2024-02-02", "Bad value"),
      ("pe", "2024-02-28", "Bad value"),
      ("ps", "bad", "Bad value")))
    val typed = Contract.cast(df, spec)
    assert(typed.schema.forall(_.dataType == org.apache.spark.sql.types.DateType))
  }

  test("formatteddatetime parses the default multi-pattern family incl. NHS 16-digit") {
    val df = Seq(
      "2024-01-31T12:30:45",
      "20240131 123045",
      "20240131123045.500",
      "2024-01-31 12:30:45+01:00",
      "2024-01-31T12:30:45Z",
      "2024013112304501",        // NHS 16-digit: ...+01:00
      "20240131T12304501",       // NHS 8T8
      "2024-13-31T12:30:45",     // impossible month
      "not a date").toDF("d")
    val spec = EntitySpec("e", Seq(FieldSpec("d", "formatteddatetime")))
    val out = Contract.cast(df, spec).collect().map(r => Option(r.getTimestamp(0)).map(_.toString))
    assert(out(0).contains("2024-01-31 12:30:45.0"))
    assert(out(1).contains("2024-01-31 12:30:45.0"))
    assert(out(2).contains("2024-01-31 12:30:45.5"))
    assert(out(3).contains("2024-01-31 11:30:45.0")) // +01:00 -> UTC session tz
    assert(out(4).contains("2024-01-31 12:30:45.0"))
    assert(out(5).contains("2024-01-31 11:30:45.0"))
    assert(out(6).contains("2024-01-31 11:30:45.0"))
    assert(out(7).isEmpty && out(8).isEmpty)
    assert(Contract.validate(df, spec).count() == 2)
  }

  test("formatteddatetime timezone policy: forbid and require") {
    val df = Seq("2024-01-31T12:30:45+01:00", "2024-01-31T12:30:45").toDF("d")
    def msgs(tz: String) = Contract.validate(df,
      EntitySpec("e", Seq(FieldSpec("d", "formatteddatetime", timezoneTreatment = Some(tz)))))
    assert(msgs("forbid").select("Value").collect().map(_.getString(0)).toSeq ==
      Seq("2024-01-31T12:30:45+01:00"))
    assert(msgs("require").select("Value").collect().map(_.getString(0)).toSeq ==
      Seq("2024-01-31T12:30:45"))
    assert(msgs("permit").count() == 0)
  }

  test("function error_type routes record/file rejection and warning lanes") {
    // a: rejecting exclude_word on a mandatory field — the function failure
    //    supersedes the Blank error its nulled value would raise
    // b: warning exclude_word — informational message, value kept
    // c: file_rejection split — submission-level error
    val df = Seq(
      ("automobile park", "automobile park", "Customer#0042"),
      ("building", "building", "Customer-0042")).toDF("a", "b", "c")
    val spec = EntitySpec("e", Seq(
      FieldSpec("a", "str", mandatory = true,
        functions = Seq(FieldFunction("exclude_word", kwargs = Map("word" -> "mobile")))),
      FieldSpec("b", "str",
        functions = Seq(FieldFunction("exclude_word", errorType = "warning",
          kwargs = Map("word" -> "mobile")))),
      FieldSpec("c", "long",
        functions = Seq(FieldFunction("split", errorType = "file_rejection",
          kwargs = Map("split_on" -> "#", "keep" -> "1"))))))
    val msgs = Contract.validate(df, spec)
    val got = msgs.select("ErrorLocation", "Status", "FailureType").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(got.sorted == Seq(
      ("a", "error", "record"),          // one error for row 1, no Blank double-count
      ("b", "informational", "record"),
      ("c", "error", "submission")))
    // the warned value passes through to the cast unchanged
    val typed = Contract.cast(df, spec)
    assert(typed.select("b").collect().map(_.getString(0)).toSeq ==
      Seq("automobile park", "building"))
    assert(typed.select("c").collect().map(r => Option(r.get(0))).toSeq ==
      Seq(Some(42L), None))
  }

  test("error-detail overrides replace code/level/message and template values") {
    val df = Seq(("1", "60"), ("2", "abc"), ("3", null)).toDF("id", "v")
    val spec = EntitySpec("e", Seq(
      FieldSpec("id", "long"),
      FieldSpec("v", "long", mandatory = true, le = Some(BigDecimal(50)))),
      errorDetails = Map("v" -> Map(
        "Bad value" -> ErrorDetail("VRANGE", errorLevel = "submission",
          errorMessage = Some("v={{__error_value}} too big (id {{id}}, missing {{nope}})")),
        "Blank" -> ErrorDetail("VBLANK", isInformational = true))))
    val msgs = Contract.validate(df, spec)
    val byVal = msgs.collect().map(r => r.getAs[String]("Value") -> r).toMap
    val range = byVal("60")
    assert(range.getAs[String]("ErrorCode") == "VRANGE")
    assert(range.getAs[String]("FailureType") == "submission")
    assert(range.getAs[String]("ErrorMessage") == "v=60 too big (id 1, missing )")
    val blank = byVal(null)
    assert(blank.getAs[String]("ErrorCode") == "VBLANK")
    assert(blank.getAs[String]("Status") == "informational")
    assert(blank.getAs[String]("FailureType") == "record")
    // the parse failure is 'Bad value' too, so the SAME override catches it
    // (reference parity: one category covers every non-Blank error)
    val parse = byVal("abc")
    assert(parse.getAs[String]("ErrorCode") == "VRANGE")
    assert(parse.getAs[String]("ErrorMessage") == "v=abc too big (id 2, missing )")
    assert(parse.getAs[String]("Entity") == "e")
  }

  test("constraint checks: length and range") {
    val df = Seq(("abcde", "5"), ("ab", "50")).toDF("s", "v")
    val spec = EntitySpec("e", Seq(
      FieldSpec("s", "str", maxLength = Some(3)),
      FieldSpec("v", "long", ge = Some(BigDecimal(0)), lt = Some(BigDecimal(10)))))
    val msgs = Contract.validate(df, spec)
    val got = msgs.select("ErrorLocation", "Value").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("s", "abcde"), ("v", "50")))
    // bounds compare the typed value, so a type without a number has none
    intercept[IllegalArgumentException](Contract.validate(df,
      EntitySpec("e", Seq(FieldSpec("s", "str", ge = Some(BigDecimal(0)))))))
  }

  test("suggestRules mines types, nullability, and enum candidates") {
    import spark.implicits._
    val df = Seq(
      ("1", "red", "1.5", "2024-01-01", null.asInstanceOf[String], "free text one"),
      ("22", "red", "2", "2024-12-31", "x", "completely different"),
      ("-3", "blue", ".5", "1999-06-15", "  ", "a third value here"))
      .toDF("id", "color", "ratio", "day", "flaky", "prose")
    val got = Contract.suggestRules(df, enumMax = 2).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(got("id") == (("long", false, false)))    // ints stay long, not double
    assert(got("color") == (("str", false, true)))   // 2 distinct <= enumMax
    assert(got("ratio") == (("double", false, false)))
    assert(got("day") == (("date", false, false)))
    assert(got("flaky") == (("str", true, true)))    // null + blank -> nullable
    assert(got("prose")._1 == "str" && !got("prose")._3) // 3 distinct > enumMax
  }

  test("validateAgainstSuggested counts type/null/enum drift against mined rules") {
    import spark.implicits._
    val ref = Seq(
      ("1", "red", "2024-01-01"), ("2", "blue", "2024-02-02"), ("3", "red", "2024-03-03"))
      .toDF("id", "color", "day")
    val fresh = Seq(
      ("4", "red", "2024-04-04"),       // clean
      ("x", "green", null),             // type viol + enum viol + null viol
      ("6", "blue", "not-a-date"))      // type viol on day
      .toDF("id", "color", "day")
    val got = Contract.validateAgainstSuggested(ref, fresh, enumMax = 3).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .toMap
    assert(got("id") == ((1L, 0L, 0L, true)))    // "x" breaks the long rule
    assert(got("color") == ((0L, 0L, 1L, true))) // "green" never seen in ref
    assert(got("day") == ((1L, 1L, 0L, true)))   // bad format + new null
    // a clean snapshot drifts nowhere
    val clean = Contract.validateAgainstSuggested(ref, ref, enumMax = 3).collect()
    assert(clean.forall(!_.getBoolean(5)))
  }

  test("winsorize clips only the tails; robustOutliers survives the outliers themselves") {
    import spark.implicits._
    // 90 benign values 1..90 plus two wild outliers
    val df = ((1 to 90).map(_.toDouble) ++ Seq(1e6, -1e6)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val w = Repair.winsorize(df, "v", pLowPerMille = 50, pHighPerMille = 950)
      .select("id", "repaired", "clipped").as[(Long, Double, Boolean)].collect()
    assert(w.count(_._3) >= 2) // both wild values clipped
    val repaired = w.map(_._2)
    assert(repaired.max < 1000.0 && repaired.min > -1000.0)
    val o = Repair.robustOutliers(df, "v")
      .select("id", "is_outlier").as[(Long, Boolean)].collect().toMap
    assert(o(90L) && o(91L))          // the two wild rows flagged
    assert((0 to 89).count(i => o(i.toLong)) < 20) // median/MAD not dragged
  }

  test("suggestRules on an all-null column degrades to nullable str") {
    import spark.implicits._
    val df = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
      .toDF("k", "empty")
    val got = Contract.suggestRules(df).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2), r.getLong(5))).toMap
    assert(got("empty") == (("str", true, 0L)))
  }

  test("drift enum check trims both sides: padded copies of known values are not drift") {
    import spark.implicits._
    // reference holds ' A' and 'A' — ONE trimmed value, so still an enum
    // candidate at enumMax 1; a padded fresh 'A ' is in-contract, 'B' is not
    val ref = Seq((1L, " A"), (2L, "A"), (3L, "A")).toDF("k", "seg")
    val fresh = Seq((4L, "A "), (5L, "B")).toDF("k", "seg")
    val mined = Contract.suggestRules(ref, enumMax = 1).collect()
      .map(r => r.getString(0) -> (r.getBoolean(3), r.getLong(4))).toMap
    assert(mined("seg") == ((true, 1L))) // trimmed cardinality, candidate
    val got = Contract.validateAgainstSuggested(ref, fresh, enumMax = 1)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(got("seg") == 1L) // only 'B' drifts; 'A ' trims into the enum
  }

  test("validateAgainstSuggested with no shared columns returns empty, not a crash") {
    import spark.implicits._
    val ref = Seq((1L, "x")).toDF("a", "b")
    val fresh = Seq((1L, "x")).toDF("c", "d")
    val got = Contract.validateAgainstSuggested(ref, fresh)
    assert(got.count() == 0)
    assert(got.columns.toSeq == Seq("column", "suggested_type",
      "n_type_violations", "n_null_violations", "n_enum_violations", "drifted"))
  }

  test("repair approx path tracks exact within tolerance; hostile column names parse") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("id", "my value")
    val exact = Repair.winsorize(df, "my value").agg(max("lo"), max("hi")).head()
    val approx = Repair.winsorize(df, "my value", exact = false)
      .agg(max("lo"), max("hi")).head()
    assert(math.abs(exact.getDouble(0) - approx.getDouble(0)) <= 20.0)
    assert(math.abs(exact.getDouble(1) - approx.getDouble(1)) <= 20.0)
    val o = Repair.robustOutliers(df, "my value", exact = false)
    assert(o.where(col("is_outlier")).count() == 0) // uniform ramp: no outliers
  }

  test("repair fails fast when the input already carries an output column") {
    import spark.implicits._
    val df = Seq((1L, 2.0, 0.0)).toDF("id", "v", "lo")
    intercept[IllegalArgumentException] { Repair.winsorize(df, "v") }
    val df2 = Seq((1L, 2.0, 0.0)).toDF("id", "v", "mad")
    intercept[IllegalArgumentException] { Repair.robustOutliers(df2, "v") }
  }
}
