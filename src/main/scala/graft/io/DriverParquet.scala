package graft.io

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Parquet files written on the driver with Spark's own writer
  * (`ParquetFileFormat.prepareWrite` -> `OutputWriterFactory`), so codec,
  * timestamp encoding and the Spark row-schema footer come out exactly as a
  * Spark write makes them. For row sets already on the driver and small
  * enough that a distributed write job would cost more than the rows:
  * audit appends and the error report's small sheets. Files and
  * directories are made through [[NioLocalFileSystem]] on `file:`.
  */
object DriverParquet {

  /** Write `rows` (external values of `schema`) into `dir` as one part file.
    * With `dateUpdatedFrom = Some(c)` the rows go instead to one file per
    * `dir/date_updated=<d>`, `d` being the date of timestamp column `c` in
    * the session time zone, as a Spark write partitioned by `to_date(c)`
    * lays them out; zero rows then write nothing.
    */
  def write(spark: SparkSession, dir: Path, schema: StructType, rows: Seq[Row],
            dateUpdatedFrom: Option[String] = None): Unit = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    NioLocalFileSystem.options.foreach { case (k, v) => job.getConfiguration.set(k, v) }
    val factory = new ParquetFileFormat().prepareWrite(session, job, Map.empty, schema)
    val jobId = java.util.UUID.randomUUID().toString // part-file naming, as a Spark job's
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID(jobId, 0), TaskType.MAP, 0), 0))
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val parts = dateUpdatedFrom match {
      case None => Map(dir -> rows)
      case Some(c) =>
        val i = schema.fieldIndex(c)
        val zone = java.time.ZoneId.of(session.sessionState.conf.sessionLocalTimeZone)
        rows.groupBy { r =>
          val day = r.get(i) match {
            case t: java.sql.Timestamp => t.toInstant.atZone(zone).toLocalDate.toString
            case t: java.time.Instant => t.atZone(zone).toLocalDate.toString
            case _ => ExternalCatalogUtils.DEFAULT_PARTITION_NAME
          }
          new Path(dir, ExternalCatalogUtils.getPartitionPathString("date_updated", day))
        }
    }
    parts.foreach { case (d, part) =>
      val file = new Path(d, s"part-00000-$jobId-c000${factory.getFileExtension(ctx)}")
      val writer = factory.newInstance(file.toString, schema, ctx)
      try part.foreach(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
      finally writer.close()
    }
  }

  /** Replace the directory at `path` with one part file of `rows` plus a
    * `_SUCCESS` marker, as a one-task `mode("overwrite")` Spark write leaves
    * it. Zero rows still write a file, which reads back with `schema`.
    */
  def overwrite(spark: SparkSession, path: String, schema: StructType, rows: Seq[Row]): Unit = {
    val dir = new Path(path)
    val fs = NioLocalFileSystem.get(spark, dir)
    fs.delete(dir, true)
    write(spark, dir, schema, rows)
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }
}
