package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up fixture generator: replicates an existing sf dir by an integer
  * factor with key-shifted copies, preserving referential integrity
  * (orders.custkey moves with customer.custkey etc.), so the bench suite can
  * run at sf1 (~6M lineitem rows) without touching the read-only driver data.
  *
  * Copy 0 is the original rows verbatim. Copy i shifts every surrogate key
  * by i*stride (stride = max(key)+1 of the source table). Document text is
  * word-perturbed per copy (every 8th word replaced with a copy token) so
  * near-dup structure WITHIN a copy is preserved while copies of the same
  * doc do NOT collapse into 10x-sized near-dup clusters — cluster-size
  * distribution scales like real corpus growth (10x more clusters), not
  * like pathological 10x-deeper ones, which would turn the candidate-pair
  * count quadratic and measure data pathology instead of engine scaling.
  * Embeddings get a small deterministic per-copy offset for the same reason.
  *
  * Usage: runMain graft.tools.GenScale [srcDir] [dstDir] [factor]
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "testdata/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local()
    // fixed 32 partitions whatever the core count: regenerated fixtures keep
    // the part-file layout the committed scale runs measured
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    generate(spark, src, dst, factor)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def read(t: String): DataFrame =
      if (t == "events") graft.queries.CoreQueries.loadEvents(spark, src)
      else spark.read.parquet(s"$src/$t.parquet")

    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val orders = read("orders")
    val lineitem = read("lineitem")
    val events = read("events")
    val documents = read("documents")
    val embeddings = read("embeddings")

    val (cS, sS, pS, oS) =
      (stride(customer, "c_custkey"), stride(supplier, "s_suppkey"),
        stride(part, "p_partkey"), stride(orders, "o_orderkey"))
    val (eS, uS) = (stride(events, "event_id"), stride(events, "user_id"))
    val (dS, vS) = (stride(documents, "doc_id"), stride(embeddings, "vec_id"))

    val c = col("__c__")
    def shifted(key: String, s: Long): Column = (col(key) + c * s).as(key)

    /** One-pass replication: cross join against a tiny copies frame
      * (broadcast nested loop over `factor` rows — no shuffle), perturb the
      * listed columns, write.
      */
    def replicate(df: DataFrame, t: String, perturb: Map[String, Column], parts: Int): Unit = {
      val copies = spark.range(factor).toDF("__c__")
      val out = df.crossJoin(broadcast(copies))
        .select(df.columns.map(n => perturb.getOrElse(n, col(n).as(n))).toIndexedSeq: _*)
      out.repartition(parts).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }

    // fixed dims copy verbatim (a scale factor does not grow them in TPC-H either)
    read("region").write.mode("overwrite").parquet(s"$dst/region.parquet")
    read("nation").write.mode("overwrite").parquet(s"$dst/nation.parquet")

    replicate(customer, "customer", Map("c_custkey" -> shifted("c_custkey", cS)), 4)
    replicate(supplier, "supplier", Map("s_suppkey" -> shifted("s_suppkey", sS)), 1)
    replicate(part, "part", Map("p_partkey" -> shifted("p_partkey", pS)), 2)
    replicate(orders, "orders",
      Map("o_orderkey" -> shifted("o_orderkey", oS), "o_custkey" -> shifted("o_custkey", cS)), 8)
    replicate(lineitem, "lineitem",
      Map("l_orderkey" -> shifted("l_orderkey", oS), "l_partkey" -> shifted("l_partkey", pS),
        "l_suppkey" -> shifted("l_suppkey", sS)), 16)
    replicate(events, "events",
      Map("event_id" -> shifted("event_id", eS), "user_id" -> shifted("user_id", uS)), 8)

    // documents: copy i replaces every 8th word (phase i%8) with a copy token
    val perturbedText = when(c === 0, col("text")).otherwise(
      array_join(transform(split(col("text"), " "),
        (w, j) => when(pmod(j, lit(8)) === pmod(c, lit(8)),
          concat(lit("x"), c.cast("string"), lit("q"))).otherwise(w)), " "))
    replicate(documents, "documents", Map(
      "doc_id" -> shifted("doc_id", dS),
      "text" -> perturbedText.as("text"),
      "n_chars" -> length(perturbedText).cast("long").as("n_chars")), 4)

    // embeddings: small deterministic per-copy offset keeps copies apart in
    // cosine space without moving the overall geometry
    // float/float arithmetic promotes to double in Spark SQL — cast the
    // whole array back so the sf1 schema stays FLOAT[] like the source
    val perturbedVec = when(c === 0, col("embedding")).otherwise(
      transform(col("embedding"), (x, j) =>
        x + (pmod(c * 37 + j * 13, lit(11)) - 5).cast("float") / lit(500.0f))
        .cast("array<float>"))
    replicate(embeddings, "embeddings", Map(
      "vec_id" -> shifted("vec_id", vS),
      "embedding" -> perturbedVec.as("embedding")), 4)

    println(s"""{"generated":"$dst","factor":$factor,"lineitem_rows":${
      spark.read.parquet(s"$dst/lineitem.parquet").count()}}""")
  }
}
