package graft.functions

import org.apache.spark.sql.SparkSession

/** The rule-stage function registry: every function callable from rule/filter
  * expressions, e.g. `expr("over_10(gravity)")`.
  *
  * The reference registers each as a *Python UDF*
  * (ref: spark/rules.py:80-104 over core_engine/functions/implementations.py)
  * — per-row Python worker round-trips. Here each function is a Spark 4
  * SQL scalar function (`CREATE FUNCTION ... RETURN <expr>`): the body is
  * inlined into the Catalyst plan at analysis time, so calls stay inside
  * whole-stage codegen with zero serialization boundary — strictly better
  * than JVM UDFs, let alone Python ones.
  */
object GraftFunctions {

  /** `is_valid_ods_code` test lookup list (ref: implementations.py:45-144). */
  val ValidOdsCodes: Seq[String] = Seq(
    "EE142976", "EE144430", "EE143473", "EE148112", "EE142863", "EE147862",
    "EE142472", "EE141208", "EE143149", "EE140862", "EE140319", "EE144899",
    "EE144475", "EE141850", "EE147934", "EE141068", "EE143825", "EE147805",
    "EE143489", "EE146813", "EE145703", "EE148295", "EE140156", "EE145502",
    "EE148396", "EE144126", "EE145590", "EE141566", "EE142081", "EE143640",
    "EE144911", "EE145935", "EE145279", "EE143156", "EE146556", "EE140781",
    "EE144734", "EE144841", "EE140419", "EE140040", "EE147342", "EE143330",
    "EE140926", "EE146438", "EE142137", "EE143856", "EE141067", "EE148534",
    "EE141310", "EE146899", "EE146996", "EE147487", "EE148447", "EE144311",
    "EE142147", "EE147605", "EE142117", "EE144087", "EE147326", "EE147614",
    "EE143703", "EE146135", "EE140782", "EE143603", "EE143554", "EE146659",
    "EE140321", "EE141185", "EE147648", "EE144527", "EE142680", "EE141620",
    "EE145274", "EE146251", "EE148209", "EE142574", "EE148162", "EE143118",
    "EE142977", "EE147798", "EE147902", "EE145780", "EE146992", "EE142916",
    "EE144777", "EE146935", "EE145586", "EE144570", "EE147122", "EE140874",
    "EE141338", "EE143244")

  /** Function name -> (typed parameter list, return type, SQL body).
    * Semantics match core_engine/functions/implementations.py:11-200 exactly
    * (strict comparisons, null propagation, signage/tolerance edge cases).
    */
  private def definitions: Seq[(String, String, String, String)] = Seq(
    ("over_10k", "x DOUBLE", "BOOLEAN", "x > 10000d"),
    ("over_1k", "x DOUBLE", "BOOLEAN", "x > 1000d"),
    ("under_10k", "x DOUBLE", "BOOLEAN", "x < 10000d"),
    ("under_5k", "x DOUBLE", "BOOLEAN", "x < 5000d"),
    ("over_5", "x DOUBLE", "BOOLEAN", "x > 5d"),
    ("over_10", "x DOUBLE", "BOOLEAN", "x > 10d"),
    ("x_not_greater_than_y", "x DOUBLE, y DOUBLE", "BOOLEAN", "x <= y"),
    // Fiscal year start = 1 April of the CURRENT calendar year
    // (ref: implementations.py:39-42 — deliberately not shifted for Jan-Mar).
    ("date_in_current_financial_year", "test_date DATE", "BOOLEAN",
      "test_date >= make_date(year(current_date()), 4, 1)"),
    ("is_valid_ods_code", "check_ods_code STRING", "BOOLEAN",
      s"CASE WHEN check_ods_code IS NULL OR check_ods_code = '' THEN false " +
        s"ELSE check_ods_code IN (${ValidOdsCodes.map(c => s"'$c'").mkString(",")}) END"),
    ("is_valid_national_org", "check_org_code STRING", "BOOLEAN",
      "CASE WHEN check_org_code IS NULL OR check_org_code = '' THEN false " +
        "ELSE check_org_code IN ('ORG01','ORG02') END"),
    ("check_correct_numeric_signage", "val DOUBLE, expected_sign STRING", "BOOLEAN",
      """CASE WHEN val IS NULL THEN NULL
        |     WHEN expected_sign = '+/-' THEN true
        |     WHEN expected_sign = '+' THEN val >= 0d
        |     WHEN expected_sign = '-' THEN val <= 0d
        |     ELSE NULL END""".stripMargin),
    ("number_matches_within_tolerance",
      "comparator DECIMAL(38,10), number DECIMAL(38,10), tolerance DECIMAL(38,10)", "BOOLEAN",
      "abs(number - comparator) <= abs(tolerance)"),
    ("number_matches_within_percentage",
      "comparator DECIMAL(20,10), number DECIMAL(20,10), percentage DECIMAL(20,10)", "BOOLEAN",
      "CASE WHEN percentage IS NULL OR comparator IS NULL THEN NULL " +
        "ELSE number_matches_within_tolerance(comparator, number, CAST(comparator * percentage AS DECIMAL(38,10))) END"),
    // NHS number mod-11 check (ref: domain_types.py:131-155 + implementations.py:198-200):
    // strip spaces/hyphens; must be 10 digits; check digit must equal
    // 11 - (weighted-sum mod 11), where mod 0 maps to check 0 and mod 1 is invalid.
    ("nhs_clean", "nhs_no STRING", "STRING",
      "replace(replace(nhs_no, ' ', ''), '-', '')"),
    ("nhsno_mod11_check", "nhs_no STRING", "BOOLEAN",
      """CASE WHEN nhs_no IS NULL OR NOT nhs_clean(nhs_no) RLIKE '^[0-9]{10}$' THEN false
        |ELSE (11 - (CASE WHEN aggregate(sequence(1, 9),
        |                   0,
        |                   (acc, i) -> acc + CAST(substring(nhs_clean(nhs_no), i, 1) AS INT) * (11 - i)
        |                 ) % 11 = 0 THEN 11
        |            ELSE aggregate(sequence(1, 9),
        |                   0,
        |                   (acc, i) -> acc + CAST(substring(nhs_clean(nhs_no), i, 1) AS INT) * (11 - i)
        |                 ) % 11 END))
        |     = CAST(substring(nhs_clean(nhs_no), 10, 1) AS INT)
        |END""".stripMargin)
  )

  def functionNames: Seq[String] = definitions.map(_._1)

  /** Sessions already registered. Weak keys, so an entry goes with its
    * session; a session's equality is identity, so a `newSession()` (its
    * own temporary-function catalog) is a new key.
    */
  private val registered =
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register every function on the session, once per session: parsing and
    * running the statements is driver time on every rules stage otherwise.
    */
  def register(spark: SparkSession): Unit = registered.synchronized {
    if (!registered.contains(spark)) {
      definitions.foreach { case (name, params, ret, body) =>
        spark.sql(s"CREATE OR REPLACE TEMPORARY FUNCTION $name($params) RETURNS $ret RETURN $body")
      }
      registered.add(spark)
    }
  }
}
