package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import graft.config.Dischema
import graft.report.ErrorSink

/** Submission discovery: the production entry point that finds the work.
  *
  * A landing prefix receives `<name>.<ext>` data files paired with
  * `<name>.metadata.json` descriptors (ref: pipeline/pipeline.py:164-196
  * `_get_submission_files_for_run`). Discovery groups the prefix by stem,
  * waits for incomplete pairs (a data file whose metadata has not landed
  * yet is NOT an error), deadletters ambiguous groups (>2 files on one
  * stem, ref: pipeline.py:183-187 -> `utils.py:71-79 deadletter_file`),
  * assigns each complete pair a submission id, moves it to the processed
  * area (ref: pipeline.py:146-162 `_move_submission_to_working_location`)
  * and parses the metadata JSON into a [[SubmissionInfo]]
  * (ref: core_engine/models.py:45-92 `SubmissionInfo.from_metadata_file`).
  *
  * All file operations go through the Hadoop FileSystem of the prefix's
  * scheme, so the same code serves a local directory, HDFS, or an object
  * store mount. Listing is one RPC per discovery pass over a single
  * prefix — the landing area holds submissions-in-flight, not data at
  * rest, so this never becomes a large listing at scale.
  */
object Discovery {

  /** Parsed `.metadata.json` descriptor (ref: core_engine/models.py:45-92).
    * `datasetId` selects the dischema; discovery itself does not resolve it.
    */
  final case class SubmissionInfo(
      submissionId: String,
      datasetId: Option[String],
      fileName: String,
      fileExtension: String,
      submissionMethod: Option[String] = None,
      submittingOrg: Option[String] = None,
      reportingPeriodStart: Option[String] = None,
      reportingPeriodEnd: Option[String] = None,
      fileSize: Option[Long] = None)

  /** A complete, received submission: its info plus the moved data file. */
  final case class Received(info: SubmissionInfo, dataFile: String, metadataFile: String)

  final case class DiscoveryResult(
      received: Seq[Received],
      /** Metadata unparseable / not a JSON mapping: moved to processed,
        * marked failed, a processing error dumped — never silently dropped. */
      failed: Seq[SubmissionInfo],
      /** Files moved to the deadletter prefix (ambiguous stem groups). */
      deadlettered: Seq[String],
      /** Stems still waiting for their partner file. */
      pending: Seq[String])

  private val mapper = new ObjectMapper()

  private def fileName(p: Path): String = p.getName
  private def stemOf(name: String): String = {
    val base = name.lastIndexOf('.') match {
      case -1 => name
      case i  => name.substring(0, i)
    }
    base.stripSuffix(".metadata")
  }
  private def extOf(name: String): String = name.lastIndexOf('.') match {
    case -1 => ""
    case i  => name.substring(i + 1).toLowerCase
  }
  private def isMetadata(name: String): Boolean =
    name.toLowerCase.endsWith(".metadata.json")

  /** Hadoop rename returns false (or throws) on failure; normalize to a
    * boolean so callers can route the file to a retry path.
    */
  private def tryRename(fs: FileSystem, src: Path, dest: Path): Boolean =
    try fs.rename(src, dest)
    catch { case _: java.io.IOException => false }

  /** Exception-safe delete: a cleanup failure must degrade the one stem,
    * never abort the whole discovery pass.
    */
  private def tryDelete(fs: FileSystem, p: Path): Boolean =
    try fs.delete(p, true)
    catch { case _: java.io.IOException => false }

  /** Stems judged ambiguous are recorded as `<stem>.ambiguous` markers in
    * the deadletter prefix BEFORE any file moves. A partial deadletter move
    * can leave a (1 data, 1 metadata) remnant that looks pairable to a
    * stateless pass; the marker makes the judgement durable — marked stems
    * drain to deadletter on every later pass (including files uploaded to
    * the stem afterwards) until an operator clears the marker with the
    * deadlettered files.
    */
  private def ambiguousMarked(fs: FileSystem, deadletterDir: Path): Set[String] =
    if (!fs.exists(deadletterDir)) Set.empty
    else fs.listStatus(deadletterDir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".ambiguous")).map(_.stripSuffix(".ambiguous")).toSet

  /** Returns whether the marker is durably on disk — the judgement must
    * not be acted on until it is (see the caller's comment).
    */
  private def markAmbiguous(fs: FileSystem, deadletterDir: Path, stem: String): Boolean =
    try { fs.create(new Path(deadletterDir, s"$stem.ambiguous"), true).close(); true }
    catch { case _: java.io.IOException => false }

  /** One discovery pass over the landing prefix.
    *
    * @param newId submission-id source (UUID hex in production,
    *              ref: pipeline.py:268 `uuid4().hex`; injectable for tests)
    */
  def discover(spark: SparkSession, landingDir: String, processedDir: String,
               newId: () => String = () => java.util.UUID.randomUUID().toString.replace("-", "")
              ): DiscoveryResult = {
    val landing = new Path(landingDir)
    val fs = graft.io.NioLocalFileSystem.get(spark, landing)
    if (!fs.exists(landing))
      return DiscoveryResult(Nil, Nil, Nil, Nil)

    val files = fs.listStatus(landing).toSeq.filter(_.isFile).map(_.getPath)
    val byStem = files.groupBy(p => stemOf(fileName(p)))

    val received = Seq.newBuilder[Received]
    val failed = Seq.newBuilder[SubmissionInfo]
    val deadlettered = Seq.newBuilder[String]
    val pending = Seq.newBuilder[String]

    // deadletter prefix: sibling of the landing dir (ref: utils.py:71-79)
    val deadletterDir = new Path(landing.getParent, "deadletter")
    val marked = ambiguousMarked(fs, deadletterDir)

    byStem.toSeq.sortBy(_._1).foreach { case (stem, group) =>
      val (metas, datas) = group.partition(p => isMetadata(fileName(p)))
      if (marked.contains(stem) || group.size > 2 ||
          (group.size == 2 && (metas.size != 1 || datas.size != 1))) {
        // ambiguous: >2 files on one stem, two data files, or two metadata
        // files — nothing sane to pair, move ALL of them out of the way.
        // The judgement is made durable FIRST (marker in the deadletter
        // prefix): any remnant a partial move leaves behind — even a
        // pairable-looking (data, metadata) couple — drains here on every
        // later pass instead of being silently processed.
        // A move that fails stays in landing for the next pass (and is NOT
        // reported as deadlettered — a false "moved" would strand the file).
        // If the marker itself cannot be written, NO move happens: a
        // marker-less partial move is exactly the remnant hazard the marker
        // exists to prevent (1 data + 1 metadata left behind would re-pair
        // as a valid submission on the next stateless pass).
        fs.mkdirs(deadletterDir)
        if (!marked.contains(stem) && !markAmbiguous(fs, deadletterDir, stem)) {
          pending += stem
        } else {
          def move(p: Path): Boolean = {
            val dest = new Path(deadletterDir, fileName(p))
            val ok = tryRename(fs, p, dest)
            if (ok) deadlettered += dest.toString
            ok
          }
          // attempt every file (no short-circuit — leave as little behind
          // as possible); metadata first so the common remnant is data-only
          val metasOk = metas.map(move).forall(identity)
          val datasOk = datas.map(move).forall(identity)
          if (!metasOk || !datasOk) pending += stem
        }
      } else if (group.size < 2) {
        pending += stem // partner not landed yet — retry next pass
      } else {
        val (dataFile, metaFile) = (datas.head, metas.head)
        val id = newId()
        val destDir = new Path(processedDir, id)
        fs.mkdirs(destDir)
        val dataDest = new Path(destDir, fileName(dataFile))
        val metaDest = new Path(destDir, fileName(metaFile))
        // Both moves must land before the submission is Received — a
        // half-moved pair would fail later with a confusing read error.
        if (!tryRename(fs, dataFile, dataDest)) {
          tryDelete(fs, destDir) // nothing moved in: don't leak empty dirs
          pending += stem
        } else if (!tryRename(fs, metaFile, metaDest)) {
          // roll the data file back so the pair stays together in landing
          if (tryRename(fs, dataDest, dataFile)) {
            tryDelete(fs, destDir)
            pending += stem
          } else {
            // data stranded under processed/<id> with no metadata: surface
            // it as a failed submission instead of pending forever, and
            // move the orphan metadata out of landing so the stem stops
            // re-reporting as pending on every later pass
            ErrorSink.writeProcessingError(spark, destDir.toString,
              "audit_received", s"data file moved but metadata move and rollback failed: $metaFile")
            failed += SubmissionInfo(id, None, stem, extOf(fileName(dataFile)))
            fs.mkdirs(deadletterDir)
            if (tryRename(fs, metaFile, new Path(deadletterDir, fileName(metaFile))))
              deadlettered += new Path(deadletterDir, fileName(metaFile)).toString
          }
        } else {
          parseMetadata(fs, id, metaDest, fileName(dataFile)) match {
            case Right(info) => received += Received(info, dataDest.toString, metaDest.toString)
            case Left(reason) =>
              ErrorSink.writeProcessingError(spark, new Path(processedDir, id).toString,
                "audit_received", reason)
              failed += SubmissionInfo(id, None, stem, extOf(fileName(dataFile)))
          }
        }
      }
    }
    DiscoveryResult(received.result(), failed.result(), deadlettered.result(), pending.result())
  }

  /** Parse a metadata descriptor; `file_name` defaults to the metadata file's
    * stem when absent (ref: models.py:86-88).
    */
  private def parseMetadata(fs: FileSystem, submissionId: String, metaPath: Path,
                            dataFileName: String): Either[String, SubmissionInfo] = {
    val text =
      try {
        val in = fs.open(metaPath)
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      } catch { case e: java.io.IOException => return Left(s"cannot read metadata: ${e.getMessage}") }
    val node =
      try mapper.readTree(text)
      catch { case e: Exception => return Left(s"metadata is not valid JSON: ${e.getMessage}") }
    if (node == null || !node.isObject)
      return Left("metadata is not a JSON mapping")
    def str(k: String): Option[String] =
      Option(node.get(k)).filterNot(_.isNull).map(_.asText).filter(_.nonEmpty)
    Right(SubmissionInfo(
      submissionId = submissionId,
      datasetId = str("dataset_id"),
      fileName = str("file_name").getOrElse(stemOf(fileName(metaPath))),
      // ".csv" and "csv" both accepted (ref: models.py:66-68 validator)
      fileExtension = str("file_extension").map(_.stripPrefix(".").toLowerCase)
        .getOrElse(extOf(dataFileName)),
      submissionMethod = str("submission_method"),
      submittingOrg = str("submitting_org"),
      reportingPeriodStart = str("reporting_period_start"),
      reportingPeriodEnd = str("reporting_period_end"),
      fileSize = Option(node.get("file_size")).filter(_.isNumber).map(_.asLong)))
  }

  /** Discover + run: pair the landing prefix, resolve each submission's
    * dischema by dataset id, and run all runnable submissions concurrently
    * (ref: pipeline.py:950-977 — discovery feeds the thread-pooled service
    * chain). Submissions whose dataset id is unknown are marked failed with
    * a processing error, like the reference's `load_config` failure path.
    */
  def run(spark: SparkSession, landingDir: String, processedDir: String,
          dischemaFor: String => Option[Dischema.Parsed],
          refdataBaseDir: String = ".",
          auditDir: Option[String] = None,
          csvOptions: graft.readers.Readers.CsvOptions = graft.readers.Readers.CsvOptions(),
          parallelism: Int = 7,
          newId: () => String = () => java.util.UUID.randomUUID().toString.replace("-", "")
         ): (DiscoveryResult, Map[String, Either[Throwable, Pipeline.PipelineResult]]) = {
    val disc = discover(spark, landingDir, processedDir, newId)
    val (runnable, unknown) = disc.received.partition(r =>
      r.info.datasetId.exists(d => dischemaFor(d).isDefined))
    unknown.foreach { r =>
      ErrorSink.writeProcessingError(spark, s"$processedDir/${r.info.submissionId}",
        "load_config", s"unknown dataset_id: ${r.info.datasetId.getOrElse("<absent>")}")
    }
    val cfgs = runnable.map { r =>
      Pipeline.SubmissionConfig(
        submissionId = r.info.submissionId,
        dataFile = r.dataFile,
        dischema = dischemaFor(r.info.datasetId.get).get,
        workingDir = s"$processedDir/${r.info.submissionId}",
        refdataBaseDir = refdataBaseDir,
        auditDir = auditDir,
        csvOptions = csvOptions)
    }
    val results = Pipeline.runAll(spark, cfgs, parallelism)
    (disc.copy(failed = disc.failed ++ unknown.map(_.info)), results)
  }
}
