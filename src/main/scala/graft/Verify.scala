package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: query-name substrings for focused local runs
    // (the driver always passes exactly two args and dumps everything)
    val filters = args.drop(2)
    def selected(name: String): Boolean =
      filters.isEmpty || filters.exists(name.contains)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dump the inline pipeline fixtures so the p01-p03 oracles can
    // recompute the pipelines in DuckDB from the same inputs
    // (queries/Pipelines.scala oracle scaladoc). A SIBLING of outDir:
    // anything inside outDir would be scanned as a query result.
    val fixDir = new java.io.File(outDir).getAbsolutePath + "_fixtures"
    locally {
      val (raw, meta, existing) = graft.queries.Pipelines.fixture(spark)
      raw.coalesce(1).write.mode("overwrite").parquet(s"$fixDir/p01_raw")
      meta.coalesce(1).write.mode("overwrite").parquet(s"$fixDir/p01_meta")
      existing.coalesce(1).write.mode("overwrite").parquet(s"$fixDir/p01_existing")
      val (fact, lines) = graft.queries.Pipelines.p03Fixture(spark)
      fact.coalesce(1).write.mode("overwrite").parquet(s"$fixDir/p03_fact")
      lines.coalesce(1).write.mode("overwrite").parquet(s"$fixDir/p03_lines")
      graft.queries.Media.parquetFixtures.foreach { case (name, expected) =>
        expected(spark).coalesce(1).write.mode("overwrite").parquet(s"$fixDir/$name")
      }
      // the STORED vector index (s17): dumped from the same versioned
      // table the query serves from, so the oracle recomputes the
      // search from the artifact, never from a second training run
      graft.ext.Similarity.ivfIndexExpected(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$fixDir/ivf_index")
      // raw TEXT (not parquet): the m14 oracle re-parses these bytes
      // with DuckDB's own CSV reader, independent of Spark's parser
      graft.queries.Media.csvRawFixture(spark)
        .coalesce(1).write.mode("overwrite").text(s"$fixDir/csv_raw")
    }
    // failures are recorded explicitly (stderr + _errors.json below), so
    // an all-pass correctness report can't silently cover fewer queries
    // than the suite defines
    var errors = List.empty[(String, String)]
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      // dump TIMESTAMP columns as NTZ: the session is UTC, so the cast
      // is the same instant rendered naive — which is both what DuckDB
      // produces from the naive source data and what the old INT96
      // dump layout read back as; the engine switched its parquet
      // writes to TIMESTAMP_MICROS (isAdjustedToUTC=true), and without
      // this the type-strict arrow compare sees tz-aware vs naive on
      // every timestamp-bearing result
      try {
        val df = fn(spark, sfDir)
        val naive = df.select(df.schema.fields.map { f =>
          if (f.dataType == org.apache.spark.sql.types.TimestampType)
            org.apache.spark.sql.functions.col(f.name)
              .cast("timestamp_ntz").as(f.name)
          else org.apache.spark.sql.functions.col(f.name)
        }.toSeq: _*)
        naive.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors ::= name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__FIXTURES__", fixDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // name starts with '_' so the driver's result-dir scan skips it; the
    // summary line makes a partial run loud even if the file is ignored
    val errJson = errors.sortBy(_._1)
      .map { case (n, m) => s"${q(n)}: ${q(m)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    val nSel = SparkEntry.queries.count(q => selected(q._1))
    println(s"[verify] ${nSel - errors.size}/$nSel queries dumped" +
      (if (filters.nonEmpty) s" (filtered from ${SparkEntry.queries.size})" else "") +
      s"; failed: " + errors.map(_._1).sorted.mkString("[", ",", "]"))
    spark.stop()
  }
}
