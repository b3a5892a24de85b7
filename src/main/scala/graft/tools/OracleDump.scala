package graft.tools

/** Write SparkEntry.oracleSql as oracle_sql.json WITHOUT re-running any
  * query — repairs/refreshes a verify dump's oracle file after a
  * name-filtered partial re-dump (which rewrites the file with only the
  * filtered entries). No SparkSession needed.
  * Usage: runMain graft.tools.OracleDump <outDir>
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    graft.Verify.writeOracle(outDir, _ => true)
    println(s"wrote ${graft.SparkEntry.oracleSql.size} oracle entries and " +
      s"${graft.SparkEntry.oracleCompare.size} compare-mode entries to $outDir")
  }
}
