package graft

import org.apache.spark.sql.functions._

class ScaleSmokeSpec extends SparkSpec {

  test("buildSf1 derives a 10x corpus that keeps the fixture invariants") {
    val out = graft.util.Scratch.fresh("sf1_spec")
    ScaleSmoke.buildSf1(spark, sfDir, out)
    def rows(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet").count()
    Seq("region", "nation").foreach { t =>
      assert(rows(out, t) == rows(sfDir, t), s"$t stays single-copy")
    }
    Seq("customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings").foreach { t =>
      assert(rows(out, t) == 10 * rows(sfDir, t), s"$t has 10x the source rows")
    }
    val docs = spark.read.parquet(s"$out/documents.parquet")
    assert(docs.schema("n_chars").dataType ==
      spark.read.parquet(s"$sfDir/documents.parquet").schema("n_chars").dataType)
    assert(docs.filter(not(col("n_chars") <=> length(col("text")))).count() == 0,
      "n_chars == length(text) on every derived document")
    assert(docs.select("doc_id").distinct().count() == docs.count(), "doc_id is unique")
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
    assert(emb.select("vec_id").distinct().count() == emb.count(), "vec_id is unique")
  }
}
