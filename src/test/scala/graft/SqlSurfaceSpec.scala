package graft

import graft.queries.SqlSurface
import org.apache.spark.graft.SparkProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class SqlSurfaceSpec extends SparkSpec {

  private val views = Seq(
    "x04_sql_neardup_view" -> "near_dup_pairs",
    "x07_sql_text_signals" -> "doc_signals",
    "x08_sql_knn_view" -> "knn_neighbors",
    "x09_sql_topk_view" -> "cosine_topk")

  private def registered(view: String) = spark.catalog.tableExists(view)

  /** Jobs `body` submits. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    SparkProbe.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try body finally {
      SparkProbe.drainListeners(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get()
  }

  test("open submits no job beyond naming the tables, and builds no operator view") {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    // spark.read.parquet infers each table's schema with one footer job;
    // open may cost exactly that and nothing else
    val naming = jobsOf(tables.foreach(graft.sources.Tables.table(spark, sfDir, _)))
    val open = jobsOf(SqlSurface.reopen(spark, sfDir))
    assert(open == naming, s"open submitted $open jobs, naming the tables $naming")
    assert(open <= tables.size)
    tables.foreach(t => assert(registered(t), t))
    assert(spark.catalog.functionExists("cosine_sim"))
    views.foreach { case (_, v) => assert(!registered(v), s"$v built by open") }
  }

  test("each operator view is registered by the query that reads it and still resolves") {
    SqlSurface.reopen(spark, sfDir)
    SqlSurface.queries("x01_sql_theta_join")(spark, sfDir).collect()
    views.foreach { case (_, v) => assert(!registered(v), s"$v built for x01") }
    views.zipWithIndex.foreach { case ((q, v), i) =>
      assert(SqlSurface.queries(q)(spark, sfDir).collect().nonEmpty, q)
      assert(registered(v), s"$q did not register $v")
      assert(spark.table(v).schema.nonEmpty, v)
      views.drop(i + 1).foreach { case (_, later) =>
        assert(!registered(later), s"$later built for $q") }
    }
    // the catalog is the memo: a view dropped from outside is rebuilt
    spark.catalog.dropTempView("doc_signals")
    SqlSurface.queries("x07_sql_text_signals")(spark, sfDir).collect()
    assert(registered("doc_signals"))
  }
}
