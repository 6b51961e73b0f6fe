package graft

import org.apache.spark.sql.functions._

class GraftSessionSpec extends SparkSpec {

  test("session carries engine config; cosine_sim resolves in SQL") {
    // a new session in this JVM shares the SparkContext but gets its
    // own SessionState, so the extensions config takes effect
    val s = GraftSession.builder("local[4]", 4).getOrCreate().newSession()
    graft.functions.CosineSimilarity.register(s)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    val r = s.sql("SELECT cosine_sim(array(3d,4d), array(3d,4d)) AS c").head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("session pins the measured coalescing, shuffle-writer and checksum constants") {
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true")
    assert(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")) == 64L * 1024 * 1024)
    assert(spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false")
    assert(spark.sparkContext.getConf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
  }

  test("from_json is PERMISSIVE: corrupt JSON yields null, not failure") {
    import spark.implicits._
    val df = Seq("""{"k": 1}""", """not json at all""", """{"k": """).toDF("props")
      .select(from_json(col("props"),
        org.apache.spark.sql.types.DataType.fromDDL("map<string,int>")).as("m"))
    assert(df.filter(col("m").isNotNull).count() == 1)
    assert(df.count() == 3, "corrupt rows survive as nulls for quarantine")
  }
}
