package graft

import graft.queries.{Advanced, Windows}
import org.apache.spark.sql.functions._

class AdvancedSpec extends SparkSpec {

  test("every advanced query runs; oracle SQL exists for each") {
    Advanced.queries.foreach { case (name, fn) =>
      assert(fn(spark, sfDir).columns.nonEmpty, name)
    }
    assert(Advanced.queries.keySet == Advanced.oracle.keySet)
  }

  test("v05 Aggregator top-k equals the w03 window top-k rows") {
    val agg = Advanced.queries("v05_topk_aggregator")(spark, sfDir)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"))
    val win = Windows.queries("w03_ranking_topk")(spark, sfDir)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"))
    assert(agg.except(win).count() == 0 && win.except(agg).count() == 0)
  }

  test("v05 runs as partial+final aggregation (map-side combine), not a window sort") {
    val plan = planOf(Advanced.queries("v05_topk_aggregator")(spark, sfDir))
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
    assert(!plan.contains("Window"), "the Aggregator path must not fall back to a window")
  }

  test("v15 count-min estimate is one-sided: est >= exact on every hitter") {
    val df = Advanced.queries("v15_countmin_topk")(spark, sfDir)
    assert(df.filter(col("cms_est") < col("exact_n")).count() == 0,
      "a count-min sketch can only OVERestimate")
    // 3x512 counters against sf0.001's key cardinality: collisions are
    // rare enough that the top hitter should be estimated exactly
    assert(df.limit(1).filter(col("cms_est") === col("exact_n")).count() == 1)
  }

  test("v09 sketch error stays inside the oracled bound on every row") {
    val rows = Advanced.queries("v09_approx_distinct")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r => assert(r.getBoolean(2), s"err_ok false: $r") }
  }

  test("v06 upsert covers every customer exactly once with a valid action") {
    val df = Advanced.queries("v06_upsert_merge")(spark, sfDir)
    assert(df.groupBy("o_custkey").count().filter(col("count") > 1).count() == 0)
    assert(df.filter(!col("action").isin("updated", "inserted", "kept")).count() == 0)
  }

  test("v12 incremental refresh is bit-identical to the full recompute") {
    import spark.implicits._
    val merged = Advanced.queries("v12_incremental_agg")(spark, sfDir)
    // the invariant that makes incremental view maintenance trustworthy:
    // merging the closed-history aggregate with the delta aggregate must
    // equal aggregating everything from scratch (exact — the operator
    // keeps money in integer cents precisely so this holds bitwise)
    val full = graft.sources.Tables.orders(spark, sfDir)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(round($"o_totalprice" * 100).cast("long")).as("cents"),
        min($"o_orderdate").as("first_order"))
      .select($"o_custkey", $"n_orders",
        ($"cents" / 100.0).as("total_spend"),
        (expr("(cents * 2 + n_orders) div (n_orders * 2)") / 100.0).as("avg_spend"),
        $"first_order")
    assert(merged.except(full).count() == 0 && full.except(merged).count() == 0)
    assert(merged.count() > 0)
  }

  test("v19-v27 over sf0.1 and sf0_1 in parallel threads get distinct table dirs") {
    // symlinks to the fixture: never delete this dir recursively
    val base = java.nio.file.Files.createTempDirectory("advanced_spec_names").toString
    val names = Seq(s"$base/sf0.1", s"$base/sf0_1")
    names.foreach(n => java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(n), java.nio.file.Paths.get(sfDir).toAbsolutePath))
    val vq = Advanced.queries.keys.filter(_.matches("v(19|2[0-7])_.*")).toSeq.sorted
    assert(vq.size == 9)
    // the top-level scratch dir each result file lives in
    def tableDirs(files: Seq[String]): Set[String] =
      files.flatMap(_.split("/").find(_.matches("v(19|2[0-7])_.*"))).toSet
    val start = new java.util.concurrent.CountDownLatch(1)
    val runs = names.map { n =>
      val f = new java.util.concurrent.FutureTask(() => {
        start.await()
        vq.map { q =>
          val df = Advanced.queries(q)(spark, n)
          q -> (tableDirs(df.inputFiles.toSeq), df.collect().toSeq.map(_.toString).sorted)
        }.toMap
      })
      new Thread(f).start()
      f
    }
    start.countDown()
    val Seq(a, b) = runs.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    assert(vq.exists(q => a(q)._1.nonEmpty), "no result reads its table dir")
    vq.foreach { q =>
      assert((a(q)._1 intersect b(q)._1).isEmpty, s"$q shares ${a(q)._1}")
      assert(a(q)._2 == b(q)._2, s"$q rows differ between the two runs")
    }
  }
}
