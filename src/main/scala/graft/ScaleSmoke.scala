package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Derives the sf1 corpus (10x) from the sf0.1 test data, for scale
  * runs of the query suite one decade up (`SPARK_GRAFT_SF_DIR=<out>`
  * with `graft.Bench`).
  *
  * The 10x derivation keeps within-shard structure identical to sf0.1
  * while making shards mutually dissimilar:
  *  - documents: shard k prefixes every token with "s<k>" — every
  *    shingle/word hash changes, so cross-shard text similarity is
  *    exactly zero and each shard reproduces sf0.1's pair structure.
  *    `n_chars` is recomputed as `length(text)`, the fixture invariant
  *    the source rows hold;
  *  - embeddings: shard k applies a deterministic +-1 sign flip per
  *    dimension (an orthogonal diagonal map — within-shard cosines are
  *    EXACTLY preserved, cross-shard cosines scrambled).
  *
  * The candidate-pair counts and per-query timings this corpus was
  * first built for are recorded in scale_sf1.json and BASELINE.md.
  *
  * Usage: runMain graft.ScaleSmoke [sf0.1Dir] [sf1OutDir]
  * Writes the corpus and prints its path.
  */
object ScaleSmoke {

  private val copies = 10
  private val idStride = 10000000L

  /** Deterministic +-1 mask for shard k (k=0 is identity). */
  private def signMask(k: Int, dims: Int): Seq[Float] =
    (0 until dims).map { i =>
      if (k == 0) 1.0f
      else if (((k * 2654435761L + i * 40503L) >> 7 & 1L) == 1L) -1.0f else 1.0f
    }

  /** Shard-replicate a relational table: k copies with every id column
    * offset by k·idStride, so each shard reproduces sf0.1's join
    * structure exactly (orders-per-customer, lineitems-per-order,
    * degree distributions) while shards stay disjoint — the TPC-H
    * scaling convention (row counts grow with SF, per-key structure
    * does not). idStride is divisible by every modulus the query suite
    * seeds with (g05's node % 50, d12's doc_id % 100), so deterministic
    * seed sets replicate per shard instead of collapsing onto shard 0. */
  private def shardTable(spark: SparkSession, src: String, out: String,
      table: String, idCols: Seq[String]): Unit = {
    val t = spark.read.parquet(s"$src/$table.parquet")
    (0 until copies).map { k =>
      idCols.foldLeft(t)((df, c) => df.withColumn(c, col(c) + lit(k * idStride)))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/$table.parquet")
  }

  private[graft] def buildSf1(spark: SparkSession, src: String, out: String): Unit = {
    // fixed dimensions stay single-copy (nation/region cardinality does
    // not scale with SF); every fact/dim keyed table shard-replicates
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    shardTable(spark, src, out, "customer", Seq("c_custkey"))
    shardTable(spark, src, out, "supplier", Seq("s_suppkey"))
    shardTable(spark, src, out, "part", Seq("p_partkey"))
    shardTable(spark, src, out, "orders", Seq("o_orderkey", "o_custkey"))
    shardTable(spark, src, out, "lineitem",
      Seq("l_orderkey", "l_partkey", "l_suppkey"))
    shardTable(spark, src, out, "events", Seq("event_id", "user_id"))
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docShards = (0 until copies).map { k =>
      val text =
        if (k == 0) col("text")
        else concat_ws(" ", transform(split(col("text"), " "),
          w => concat(lit(s"s$k"), w)))
      docs.select(
        (col("doc_id") + lit(k * idStride)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast(docs.schema("n_chars").dataType).as("n_chars"))
    }
    docShards.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val dims = emb.select(size(col("embedding"))).first().getInt(0)
    val embShards = (0 until copies).map { k =>
      val mask = array(signMask(k, dims).map(lit): _*)
      emb.select(
        (col("vec_id") + lit(k * idStride)).as("vec_id"),
        zip_with(col("embedding"), mask, (x, m) => (x * m).cast("float")).as("embedding"),
        col("label"))
    }
    embShards.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else
      graft.util.Scratch.dir("sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    buildSf1(spark, src, out)
    println(out)
    spark.stop()
  }
}
