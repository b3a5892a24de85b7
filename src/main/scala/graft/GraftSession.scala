package graft
import org.apache.spark.sql.SparkSession

/** The one way to build the engine's local session: the mains (Bench,
  * Verify, Explain), the tools and the test suites all get the same engine
  * the DuckDB oracle certifies.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` when set, else every core of the machine. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // TopKByAgg (ObjectHashAggregate) keeps O(k) state per group; the
      // default 128-group fallback-to-sort defeats its map-side combine on
      // wide tasks. 16M groups x ~200 B is well inside executor memory.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16777216")
      // InferFiltersFromGenerate synthesizes `size(e)>0 && isnotnull(e)`
      // below every explode(e); predicate pushdown then substitutes the
      // FULL generator-input expression through the projections down to the
      // scan, so each row evaluates the tree twice — and on the contract
      // family the duplicated error-array tree made one 15k-line
      // processNext() that failed janino's 64KB method limit, silently
      // running the whole stage INTERPRETED (1.08MB codegen span, CgProbe
      // r16). explode already emits nothing for empty/null arrays, so the
      // inferred filter never changes results; every generator input in
      // this engine is a computed expression (split/transform/concat), so
      // the filter can never become a cheap scan-level prune here.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
