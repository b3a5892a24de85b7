package graft.tools

import org.apache.spark.sql.execution.debug._

/** Codegen inspection of one registered query: per whole-stage subtree, the
  * generated source length, the largest method's bytecode size and the
  * interpreted-fallback references; then the count of operators outside
  * whole-stage codegen. The executed plan goes to `/tmp/plan_<query>.txt`,
  * and with `code` each subtree's source to `/tmp/cg_<query>_<i>.java`.
  * `excludedRules` replaces the session's optimizer exclusions (`-` runs
  * every rule), for a before/after view of one rule.
  *
  * Usage: runMain graft.tools.CgProbe <sfDir> <query> [excludedRules|-] [code]
  */
object CgProbe {
  def main(args: Array[String]): Unit = {
    val (sfDir, name) = (args(0), args(1))
    val spark = graft.GraftSession.local(4)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    args.lift(2).filter(_ != "code").foreach { rules =>
      if (rules == "-") spark.conf.unset("spark.sql.optimizer.excludedRules")
      else spark.conf.set("spark.sql.optimizer.excludedRules", rules)
    }
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    val cg = df.queryExecution.debug.codegenToSeq()
    println(s"=== ${cg.size} codegen subtrees ===")
    cg.zipWithIndex.foreach { case ((subtree, code, stats), i) =>
      val fallback = "CodegenFallback|fallbackExpr".r.findAllIn(code).size
      println(s"--- subtree $i codeLen=${code.length} maxMethodBytecode=${stats.maxMethodCodeSize} fallbackRefs=$fallback ---")
    }
    val interp = df.queryExecution.executedPlan.toString
    println("nonCodegenOps=" + "(?m)^(?!.*\\*\\().*(Project|Filter)".r.findAllIn(interp).size)
    println("CEV_REFS=" + "__cev_".r.findAllIn(interp).size)
    val out = java.nio.file.Paths.get("/tmp/plan_" + name + ".txt")
    java.nio.file.Files.writeString(out, interp)
    println("plan chars=" + interp.length + " -> " + out)
    if (args.last == "code") {
      cg.zipWithIndex.foreach { case ((_, code, _), i) =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"/tmp/cg_${name}_$i.java"), code)
      }
    }
    spark.stop()
  }
}
