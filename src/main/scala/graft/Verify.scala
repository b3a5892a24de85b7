package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated substrings — only run queries whose
    // name contains one (local iteration aid; the driver passes 2 args).
    // An entry prefixed with '=' matches exactly — scale-run resumes pass
    // the precise unsettled-name list so a substring can't drag an
    // already-settled heavy query (q_embed_ivf vs q_embed_ivfpq) back in.
    val nameFilter: String => Boolean =
      if (args.length > 2) {
        val subs = args(2).split(',').toSeq
        (n: String) => subs.exists(s =>
          if (s.startsWith("=")) n == s.drop(1) else n.contains(s))
      } else (_: String) => true
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Single-file dumps are the driver-friendly default, but a billion-row
    // frame (q_dedup_simhash_pairs at sf3+) through one write task is the
    // same single-task spike the bench fixtures had; the checker globs
    // `<name>/*.parquet`, so scale runs set SPARK_GRAFT_VERIFY_ONEFILE=0
    // to keep each dump at its natural (post-shuffle) parallelism.
    val oneFile = !sys.env.get("SPARK_GRAFT_VERIFY_ONEFILE").contains("0")
    SparkEntry.queries.filter(q => nameFilter(q._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        (if (oneFile) df.coalesce(1) else df)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // no cross-query cache accumulation
    }
    writeOracle(outDir, nameFilter)
    spark.stop()
  }

  /** Writes `oracle_sql.json` and the `oracle_compare.json` sidecar for the
    * queries `keep` selects — the files the DuckDB compare reads.
    */
  def writeOracle(outDir: String, keep: String => Boolean): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kv: Map[String, String]): String =
      kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql.filter(kv => keep(kv._1))))
    // compare-mode overrides (subset_recall for probabilistic operators);
    // checkers without support ignore the sidecar and compare exact.
    // Always clear any pre-existing sidecar first: a reused outDir must not
    // keep a stale mode map — a query later reverted to exact semantics
    // would otherwise be silently checked with the weaker subset_recall.
    Files.deleteIfExists(Paths.get(s"$outDir/oracle_compare.json"))
    val modes = SparkEntry.oracleCompare.filter(kv => keep(kv._1))
    if (modes.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/oracle_compare.json"), obj(modes))
  }
}
