package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source guards over `src/main/scala`: the engine's dials are session
  * confs ([[GraftConf]]) and its choices are [[GraftDecision]] events, so
  * no JVM-global property, debug switch or debug print comes back.
  */
class EngineSourceSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (path under `root`, lines) of every Scala source. */
  private lazy val sources: Seq[(String, Seq[String])] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.map(p =>
      root.relativize(p).toString -> Files.readAllLines(p).asScala.toSeq)
    finally files.close()
  }

  /** The command-line mains and tools print to the console by design. */
  private def isEngine(path: String): Boolean =
    !path.startsWith("graft/tools/") &&
      !Set("graft/Bench.scala", "graft/Verify.scala", "graft/Explain.scala")(path)

  private def hits(paths: String => Boolean, tokens: Seq[String]): Seq[String] =
    for {
      (path, lines) <- sources if paths(path)
      (line, i) <- lines.zipWithIndex if tokens.exists(line.contains)
    } yield s"$path:${i + 1}: ${line.trim}"

  test("no JVM-global property or environment switch is read") {
    assert(sources.size > 50)
    val found = hits(_ => true,
      Seq("sys.props", "System.getProperty", "sys.env.contains(\"GRAFT_"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("engine code prints no debug line") {
    val found = hits(isEngine,
      Seq("[verify]", "[components] round", "[simhash]", "[neardup]", "[pr-iter]"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("engine stderr output is the allowed set of warnings") {
    // (file, text on the System.err line or the next one)
    val allowed = Set(
      "graft/text/Dedup.scala" -> "label propagation did NOT converge",
      "graft/GraftConf.scala" -> "ignoring malformed",
      "graft/audit/Auditing.scala" -> "rollback could not remove published file",
      "graft/audit/Auditing.scala" -> "staging dir left behind",
      "graft/SparkEntry.scala" -> "[fixtures] build FAILED")
    val sites = for {
      (path, lines) <- sources if isEngine(path)
      (line, i) <- lines.zipWithIndex if line.contains("System.err")
    } yield path -> (line + lines.lift(i + 1).getOrElse(""))
    val unexpected = sites.filterNot { case (path, text) =>
      allowed.exists { case (p, marker) => p == path && text.contains(marker) }
    }
    assert(unexpected.isEmpty, unexpected.mkString("\n"))
    assert(sites.size == allowed.size, sites.mkString("\n"))
  }
}
