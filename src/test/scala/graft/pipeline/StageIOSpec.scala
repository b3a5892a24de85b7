package graft.pipeline

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Per-entity stage checkpoints read back through [[StageIO.readStage]]:
  * the schema comes from a part file's footer, so it must be exactly the
  * written schema for every contract type, and a checkpoint without a part
  * file must fail rather than read as empty.
  */
class StageIOSpec extends SparkSpec {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_stageio_").toString

  test("a per-entity checkpoint of every contract type reads back with its written schema") {
    val base = freshDir()
    val aSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("score", DoubleType),
      StructField("dec", DecimalType(10, 2)),
      StructField("flag", BooleanType)))
    val a = spark.createDataFrame(
      java.util.List.of(
        Row(1L, "alpha", 1.5e-7, new java.math.BigDecimal("17.85"), true),
        Row(2L, null, Double.MaxValue, null, false)),
      aSchema)
    val bSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("ts", TimestampType),
      StructField("d", DateType),
      StructField("tags", ArrayType(StringType)),
      StructField("nested", StructType(Seq(
        StructField("x", IntegerType), StructField("y", StringType))))))
    val b = spark.createDataFrame(
      java.util.List.of(
        Row(10L, Timestamp.valueOf("2024-03-01 12:34:56.123456"),
          Date.valueOf("2024-03-01"), Seq("p", "q"), Row(7, "z")),
        Row(11L, null, null, null, null)),
      bSchema)
    for ((name, df, schema) <- Seq(("ent_a", a, aSchema), ("ent_b", b, bSchema))) {
      val dir = s"$base/data_contract/$name"
      df.write.parquet(dir)
      val back = StageIO.readStage(spark, dir)
      // StructField equality covers names, types, nullability and metadata
      assert(back.schema == schema)
      assert(back.schema == spark.read.parquet(dir).schema)
      // micro-precision timestamps, exact decimals, nested nulls
      assert(rows(back) == rows(df))
    }
  }

  test("a checkpoint directory without a part file fails instead of reading empty") {
    val dir = java.nio.file.Path.of(freshDir(), "transform", "ent")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.createFile(dir.resolve("_SUCCESS"))
    java.nio.file.Files.createFile(dir.resolve(".part-00000.crc"))
    val e = intercept[IllegalStateException](StageIO.readStage(spark, dir.toString))
    assert(e.getMessage.contains("no part file"))
  }
}
