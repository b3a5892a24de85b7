package graft.io

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.audit.AuditManager
import graft.pipeline.{MockObjectStoreFs, Pipeline, PlanetsFixture}
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Hadoop's checksummed local filesystem, write path unchanged, under the
  * `hadooplocal:` scheme, so that a whole pipeline run can be pointed at it
  * while the engine's `file:` options leave it alone. Statuses come eager
  * and plain from [[MockObjectStoreFs]]: the lazy ones build a
  * `java.io.File` from the URI, which a non-`file` scheme cannot.
  */
class HadoopLocalFs extends LocalFileSystem(new MockObjectStoreFs {
  override def getScheme: String = "hadooplocal"
  override def getUri: java.net.URI = java.net.URI.create("hadooplocal:///")
})

/** The engine's `file:` I/O forks no process per file, and leaves the same
  * files with the same POSIX modes as Hadoop's default local filesystem.
  */
class NioLocalFileSystemSpec extends PlanetsFixture {

  private def freshDir(): String = Files.createTempDirectory("graft_niofs_").toString

  private val ChmodOrLs = """(^|\s|/)(chmod|ls)\s""".r

  /** `f`'s result and the command of every `chmod` or `ls` process the JVM
    * started while it ran.
    */
  private def forksOf[T](f: => T): (T, Seq[String]) = {
    val rec = new jdk.jfr.Recording()
    val dump = Files.createTempFile("graft_forks_", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val r = try f finally rec.stop()
      rec.dump(dump)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
      (r, commands.filter(c => ChmodOrLs.findFirstIn(c).nonEmpty))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  test("the fork detector sees the chmod of the session's own local filesystem") {
    assume(!NativeCodeLoader.isNativeCodeLoaded, "native Hadoop sets permissions without forking")
    val file = new Path(freshDir(), "f")
    val fs = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.isInstanceOf[NioLocalFileSystem])
    val (_, forks) = forksOf(fs.create(file).close())
    assert(forks.nonEmpty)
  }

  test("a planets Pipeline.run with audit on forks no chmod or ls") {
    val base = freshDir()
    val cfg = planetsSubmission(base, "no-fork", s"$base/audit")
    val (result, forks) = forksOf(Pipeline.run(spark, cfg))
    assert(result.recordCounts == Map("planets" -> 3L))
    assert(forks.size == 0, s"e.g. ${forks.take(5).mkString("; ")}")
  }

  test("audit appends and their reads fork no chmod or ls under either protocol") {
    val base = freshDir()
    Seq(false, true).foreach { commits =>
      val audit = new AuditManager(spark, s"$base/audit-$commits", objectStoreCommits = commits)
      val (status, forks) = forksOf {
        audit.addSubmissionInfo("s1", "planets", "planets.csv", ".csv")
        audit.markStatus("s1", "received")
        audit.addStatistics("s1", recordCount = 6, submissionRejections = 0,
          recordRejections = 3, warnings = 1)
        audit.markStatus("s1", "finished", submissionResult = Some("success"))
        audit.statusOf("s1")
      }
      assert(status.contains("finished"))
      assert(forks.size == 0, s"objectStoreCommits=$commits, e.g. ${forks.take(5).mkString("; ")}")
    }
  }

  test("DriverParquet.overwrite forks no chmod or ls") {
    val dir = s"${freshDir()}/sheet"
    val schema = StructType(Seq(StructField("n", LongType)))
    val (_, forks) = forksOf {
      DriverParquet.overwrite(spark, dir, schema, Seq(Row(1L), Row(2L)))
      DriverParquet.overwrite(spark, dir, schema, Seq(Row(3L)))
    }
    assert(forks.size == 0, s"e.g. ${forks.take(5).mkString("; ")}")
    assert(spark.read.parquet(dir).count() == 1)
  }

  /** (path relative to `root` with write ids and uuids masked, POSIX mode)
    * of every file and directory under `root`, sorted.
    */
  private def layout(root: String): Seq[(String, String)] = {
    val rootPath = JPath.of(root)
    val ids = """[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}|[0-9a-f]{32}""".r
    val walk = Files.walk(rootPath)
    try walk.iterator.asScala.filter(_ != rootPath).map { p =>
      ids.replaceAllIn(rootPath.relativize(p).toString, "<id>") ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSeq.sorted
    finally walk.close()
  }

  test("the engine's files, .crc sidecars and markers match Hadoop's default local filesystem") {
    spark.sparkContext.hadoopConfiguration.set("fs.hadooplocal.impl", classOf[HadoopLocalFs].getName)
    def runUnder(scheme: String): String = {
      val base = freshDir()
      val cfg = planetsSubmission(base, "parity", s"$scheme$base/out/audit")
        .copy(workingDir = s"$scheme$base/out/work")
      Pipeline.run(spark, cfg)
      val committed = new AuditManager(spark, s"$scheme$base/out/audit-commits",
        objectStoreCommits = true)
      committed.markStatus("parity", "received")
      assert(committed.statusOf("parity").contains("received"))
      s"$base/out"
    }
    val engine = layout(runUnder(""))
    val hadoop = layout(runUnder("hadooplocal://"))
    assert(engine.exists(_._1.endsWith(".parquet.crc")) && engine.exists(_._1.endsWith("_SUCCESS")))
    assert(engine.exists(_._1.contains("_commits/")))
    assert(engine == hadoop, engine.diff(hadoop) ++ hadoop.diff(engine))
  }
}
