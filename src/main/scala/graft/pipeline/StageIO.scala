package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Reads of the pipeline's per-entity stage checkpoints
  * (`transform/<entity>`, `data_contract/<entity>`; the reference's layout,
  * ref: pipeline/pipeline.py:198-246 per-dataset checkpoint writes).
  */
object StageIO {

  /** A per-entity stage checkpoint read with an explicit schema. A bare
    * `spark.read.parquet` infers the schema in a footer-reading Spark job
    * per read; the pipeline wrote these files itself, so the schema is the
    * Spark row-schema key in any one part file's footer, read here on the
    * driver. A file without the key was not written by Spark: an error,
    * not a fallback to inference.
    */
  def readStage(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(footerSchema(spark, dir)).parquet(dir)

  private val RowSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def footerSchema(spark: SparkSession, dir: String): StructType = {
    val conf = graft.io.NioLocalFileSystem.conf(spark)
    val path = new Path(dir)
    val part = path.getFileSystem(conf).listStatus(path).iterator.map(_.getPath)
      .find(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .getOrElse(throw new IllegalStateException(s"no part file in stage checkpoint $dir"))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(part, conf))
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData.get(RowSchemaKey)
      finally reader.close()
    if (json == null)
      throw new IllegalStateException(s"$part has no Spark row schema ($RowSchemaKey) in its footer")
    DataType.fromJson(json).asInstanceOf[StructType]
  }
}
