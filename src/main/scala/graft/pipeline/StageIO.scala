package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** Single-table stage checkpoints: one entity-partitioned parquet table per
  * pipeline stage instead of one directory per entity.
  *
  * The per-entity-dir layout (the reference's contract,
  * ref: pipeline/pipeline.py:198-246 per-dataset checkpoint writes) costs a
  * fixed number of Spark jobs PER ENTITY per stage; EntityProbe measured
  * that fixed cost at ~0.28 s/entity even with 8-way overlap — on a
  * 100-tiny-entities dischema the job overhead IS the wall clock. This
  * layout collapses each stage's N writes into ONE job over a union frame,
  * so the per-stage job count is constant in the entity count.
  *
  * Entities have heterogeneous schemas, so the union row is
  * `(__graft_entity__, __graft_payload__)` with the payload JSON-encoded
  * per row (`to_json`/`from_json` round-trips every contract type: structs,
  * arrays, decimals exactly, doubles/floats via shortest-repr, binary via
  * base64; timestamps carry an explicit micro-precision format because the
  * default JSON format truncates to millis). Per-entity schemas persist in
  * a `_graft_entities.json` manifest beside the table — restartability
  * across JVMs is a stage-boundary feature, the schema cannot live only in
  * memory. The `__graft_entity__` partition column prunes per-entity reads
  * to their own files, and the JSON codec cost is per-row — exactly the
  * regime (many SMALL entities) this layout targets; bulk-data submissions
  * keep the default columnar per-entity dirs.
  */
object StageIO {

  val EntityCol = "__graft_entity__"
  val PayloadCol = "__graft_payload__"
  private val ManifestFile = "_graft_entities.json"

  /** Micro-precision timestamps: the JSON codec's default format drops
    * sub-millisecond digits, which would corrupt contract-typed datetimes
    * on the round trip.
    */
  private val jsonOpts = Map(
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  private def tableSchema = StructType(Seq(
    StructField(PayloadCol, StringType),
    StructField(EntityCol, StringType)))

  /** Write every entity frame into one entity-partitioned table: ONE Spark
    * job regardless of entity count. Each union branch encodes its own
    * schema into the payload column; the schemas land in the manifest for
    * the read side.
    */
  def writeEntities(spark: SparkSession, stageDir: String,
                    frames: Seq[(String, DataFrame)]): Unit = {
    require(frames.nonEmpty, "writeEntities needs at least one entity frame")
    val encoded = org.apache.spark.sql.graft.ExpressionBridge.flatUnion(
      frames.map { case (name, df) => encodeEntity(name, df) })
    writeEncoded(spark, stageDir, encoded,
      frames.map { case (name, df) => name -> df.schema })
  }

  /** One entity's rows in table form: (payload, entity [, extras...]).
    * Extras ride BESIDE the payload so a caller can run a cross-entity
    * operation (e.g. the contract-rejection anti-join on record index) on
    * the union in one pass, then drop them before [[writeEncoded]].
    */
  def encodeEntity(name: String, df: DataFrame,
                   extras: Seq[org.apache.spark.sql.Column] = Nil): DataFrame =
    df.select(Seq(
      to_json(struct(df.columns.map(c => col(s"`$c`")): _*), jsonOpts).as(PayloadCol),
      lit(name).as(EntityCol)) ++ extras: _*)

  /** Write an already-encoded (payload, entity) union: ONE job. */
  def writeEncoded(spark: SparkSession, stageDir: String, encoded: DataFrame,
                   schemas: Seq[(String, StructType)]): Unit = {
    encoded.write.mode("overwrite").partitionBy(EntityCol).parquet(stageDir)
    writeManifest(spark, stageDir, schemas)
  }

  /** The stage table + its manifest, ONE file-index construction. A table
    * with >32 partition directories makes every fresh `spark.read` launch a
    * DISTRIBUTED listing job (parallelPartitionDiscovery); EntityProbe
    * measured 100 per-entity reads paying 100 listing jobs per stage —
    * callers list once here and [[decodeEntity]] per entity off the shared
    * frame.
    */
  def readTable(spark: SparkSession,
                stageDir: String): (DataFrame, Map[String, StructType]) =
    (spark.read.schema(tableSchema).parquet(stageDir), readManifest(spark, stageDir))

  /** One entity out of a shared [[readTable]] frame: partition-pruned scan
    * + payload decode against its manifest schema. Lazy.
    */
  def decodeEntity(table: DataFrame, schema: StructType, entity: String): DataFrame =
    table.where(col(EntityCol) === entity)
      .select(from_json(col(PayloadCol), schema, jsonOpts).as("__r__"))
      .select(col("__r__.*"))

  /** [[decodeEntity]] with its own listing — convenience for one-off reads
    * (tests, external consumers); stage loops use [[readTable]] once.
    */
  def readEntity(spark: SparkSession, stageDir: String, entity: String): DataFrame = {
    val (table, schemas) = readTable(spark, stageDir)
    decodeEntity(table, schemas.getOrElse(entity,
      throw new IllegalArgumentException(
        s"entity '$entity' not in stage manifest at $stageDir")), entity)
  }

  /** Entity names recorded in the stage manifest (write order preserved). */
  def entityNames(spark: SparkSession, stageDir: String): Seq[String] =
    readManifest(spark, stageDir).keys.toSeq

  /** Per-entity row counts in ONE job over the stage table (no payload
    * decode — counting scans only the partition column). Entities that
    * wrote zero rows have no partition directory, hence no group: callers
    * fill missing names with 0.
    */
  def entityCounts(spark: SparkSession, stageDir: String): Map[String, Long] = {
    import spark.implicits._
    spark.read.schema(tableSchema).parquet(stageDir)
      .groupBy(col(EntityCol)).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
  }

  /** [[entityCounts]] over an already-listed [[readTable]] frame. */
  def entityCounts(table: DataFrame): Map[String, Long] = {
    import table.sparkSession.implicits._
    table.groupBy(col(EntityCol)).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
  }

  /** A per-entity stage checkpoint (`transform/<entity>`,
    * `data_contract/<entity>`) read with an explicit schema. A bare
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
    val conf = spark.sparkContext.hadoopConfiguration
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

  /** The manifest maps entity -> schema JSON. Written through the Hadoop
    * filesystem of the stage path (portable to object stores); the leading
    * underscore keeps parquet scans from reading it as data.
    */
  private def writeManifest(spark: SparkSession, stageDir: String,
                            schemas: Seq[(String, StructType)]): Unit = {
    // LinkedHashMap semantics via ordered rendering: write order = dischema
    // order, so entityNames round-trips deterministically.
    val body = schemas.map { case (name, s) =>
      s"${jsonStr(name)}:${jsonStr(s.json)}"
    }.mkString("{", ",", "}")
    val path = new Path(stageDir, ManifestFile)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def readManifest(spark: SparkSession,
                           stageDir: String): scala.collection.immutable.ListMap[String, StructType] = {
    val path = new Path(stageDir, ManifestFile)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    val body = try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 64 * 1024, false)
      bos.toString("UTF-8")
    } finally in.close()
    // The manifest is a flat string->string JSON object written by
    // writeManifest above; parse it with the same minimal escaping rules.
    parseFlatJson(body).map { case (k, v) =>
      k -> DataType.fromJson(v).asInstanceOf[StructType]
    }
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Parse the flat {"k":"v",...} object writeManifest emits. A hand-rolled
    * scanner (no JSON library dependency) that honors exactly the escapes
    * jsonStr produces.
    */
  private[pipeline] def parseFlatJson(body: String): scala.collection.immutable.ListMap[String, String] = {
    var i = 0
    def ws(): Unit = while (i < body.length && body(i).isWhitespace) i += 1
    def expect(c: Char): Unit = {
      ws(); require(i < body.length && body(i) == c, s"manifest parse: expected '$c' at $i"); i += 1
    }
    def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (body(i) != '"') {
        if (body(i) == '\\') {
          i += 1
          body(i) match {
            case '"'  => sb += '"'
            case '\\' => sb += '\\'
            case 'n'  => sb += '\n'
            case 'r'  => sb += '\r'
            case 't'  => sb += '\t'
            case 'u'  => sb += Integer.parseInt(body.substring(i + 1, i + 5), 16).toChar; i += 4
            case o    => sb += o
          }
        } else sb += body(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    var out = scala.collection.immutable.ListMap.empty[String, String]
    expect('{')
    ws()
    if (i < body.length && body(i) == '}') return out
    var more = true
    while (more) {
      val k = str(); expect(':'); val v = str()
      out = out + (k -> v)
      ws()
      if (i < body.length && body(i) == ',') { i += 1; more = true } else more = false
    }
    expect('}')
    out
  }
}
