package graft.tools

import org.apache.spark.sql.SparkSession
import graft.config.Dischema
import graft.pipeline.Pipeline
import graft.readers.Readers

/** Many-SMALL-entities overhead probe: BASELINE.md names per-job overhead on
  * many tiny entities as the structural risk of the per-entity checkpoint
  * layout (a ~100-entity dischema costs ~100x the per-entity fixed job cost
  * regardless of data volume). Drives a synthetic dischema with N tiny
  * entities (3 fields each, one filter each, all reading one small CSV)
  * through the full 4-service pipeline and reports wall + per-entity cost
  * at each N, so the fixed cost separates from the data cost.
  *
  * Usage: runMain graft.tools.EntityProbe [rows] [n1,n2,...] [entityParallelism]
  */
object EntityProbe {

  def dischemaJson(n: Int): String = {
    val datasets = (1 to n).map { i =>
      s""""ent_$i": {"fields": {"k": "int", "a": "str", "b": "str"},
         | "key_field": "k", "mandatory_fields": ["k"]}""".stripMargin
    }.mkString(",\n")
    val filters = (1 to n).map { i =>
      s"""{"entity": "ent_$i", "name": "cap_$i", "expression": "k <= 1000000",
         | "error_code": "CAP", "failure_message": "cap", "reporting_field": "k"}""".stripMargin
    }.mkString(",\n")
    s"""{
       | "contract": {"datasets": {$datasets}},
       | "transformations": {"filters": [$filters]}
       |}""".stripMargin
  }

  def run(spark: SparkSession, base: String, rows: Int, n: Int,
          entityParallelism: Int = 8): Double = {
    val dataFile = s"$base/tiny_$n.csv"
    val sb = new StringBuilder("k,a,b\n")
    (1 to rows).foreach(i => sb.append(s"$i,alpha_$i,beta_$i\n"))
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(base))
    java.nio.file.Files.writeString(java.nio.file.Path.of(dataFile), sb.toString)
    val cfg = Pipeline.SubmissionConfig(
      submissionId = s"tiny-$n",
      dataFile = dataFile,
      dischema = Dischema.parseString(dischemaJson(n), _ => "{}"),
      workingDir = s"$base/work-$n",
      auditDir = Some(s"$base/audit-$n"),
      csvOptions = Readers.CsvOptions(),
      entityParallelism = entityParallelism)
    val t0 = System.nanoTime()
    val result = Pipeline.run(spark, cfg)
    val wall = (System.nanoTime() - t0) / 1e9
    require(result.recordCounts.size == n && result.recordCounts.values.forall(_ == rows),
      s"unexpected counts: ${result.recordCounts.toSeq.sortBy(_._1).take(3)}...")
    wall
  }

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toInt).getOrElse(50)
    val ns = if (args.length > 1) args(1).split(",").map(_.trim.toInt).toSeq else Seq(10, 50, 100)
    val par = if (args.length > 2) args(2).toInt else 8
    val spark = graft.GraftSession.local()
    // 32 partitions whatever the core count, as in the SCALE.md entity runs
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    val base = "/tmp/graft_entprobe"
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    // warmup (session/codegen init off the measurement)
    run(spark, base, rows, 2, par)
    println(s"# Entity-overhead probe: $rows rows/entity, entityParallelism=$par, " +
      s"local[${spark.sparkContext.defaultParallelism}]")
    val walls = ns.map { n =>
      val w = run(spark, base, rows, n, par)
      println(f"entities=$n%4d wall=$w%7.1f s  per-entity=${w / n}%6.3f s")
      w
    }
    if (ns.size >= 2) {
      // fixed per-entity cost from the slope between the extremes
      val slope = (walls.last - walls.head) / (ns.last - ns.head)
      println(f"marginal per-entity cost (slope): $slope%6.3f s/entity")
    }
    spark.stop()
  }
}
