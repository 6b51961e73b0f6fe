package graft

import graft.ext.Similarity
import graft.functions.CosineSimilarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  /** The reference `cosine_sim` is held to: cosine as a sequential
    * left fold of Spark's higher-order functions, whose null, length
    * and division rules are Spark's own arithmetic. */
  private def foldCosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x)
    val nb = aggregate(transform(b, x => x * x), lit(0.0), (acc, x) => acc + x)
    dot / (sqrt(na) * sqrt(nb))
  }

  private def causes(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)

  test("every similarity query runs; oracle SQL exists for each") {
    Similarity.queries.foreach { case (name, fn) =>
      assert(fn(spark, sfDir).columns.nonEmpty, name)
    }
    assert(Similarity.queries.keySet == Similarity.oracle.keySet)
  }

  test("s09 range search returns exactly the pairs above threshold, probes broadcast") {
    val df = Similarity.queries("s09_range_search")(spark, sfDir)
    val rows = df.collect()
    assert(rows.forall(_.getAs[Double]("cos_sim") >= 0.35 - 1e-9))
    // brute-force recount: the filter must neither add nor drop pairs
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val expect = e.filter(col("vec_id") >= 10).crossJoin(probes)
      .withColumn("cos", graft.functions.CosineSimilarity.cosineSim(col("v"), col("pv")))
      .filter(col("cos") >= 0.35).count()
    assert(rows.length.toLong == expect)
    assert(planOf(df).contains("BroadcastExchange"), "probe side must broadcast")
  }

  test("native cosine_sim expression matches the higher-order-function fold exactly") {
    // outside ANSI mode the fold's division yields null on a zero
    // divisor; under ANSI (the engine's session) it raises instead
    val ref = spark.newSession()
    ref.conf.set("spark.sql.ansi.enabled", "false")
    import ref.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    // every (probe, corpus) pair of the s-family probe set; Array[Double]
    // columns hold no nulls, so the generated loop has no null test
    val pairs = (for ((p, pv) <- emb.toSeq if p < 10; (i, v) <- emb.toSeq)
      yield (p * 1000000L + i, pv, v)).toDF("id", "a", "b")
    val edges = ref.sql(
      """SELECT * FROM VALUES
           (1L, array(1D, CAST(NULL AS DOUBLE)), array(1D, 1D)),
           (2L, array(1D, 1D), array(CAST(NULL AS DOUBLE), 1D)),
           (3L, CAST(NULL AS ARRAY<DOUBLE>), array(1D)),
           (4L, array(1D), array(1D, 1D)),
           (5L, CAST(array() AS ARRAY<DOUBLE>), CAST(array() AS ARRAY<DOUBLE>)),
           (6L, array(0D, 0D), array(1D, 1D)),
           (7L, array(CAST('NaN' AS DOUBLE), 1D), array(1D, 1D)),
           (8L, array(CAST('Infinity' AS DOUBLE), 1D), array(1D, 1D)),
           (9L, array(CAST('-Infinity' AS DOUBLE), 0D), array(1D, 1D)),
           (10L, array(1D, 2D, 3D), array(3D, -2D, 1D))
         AS t(id, a, b)""")
    // NaN bit patterns are canonical, so equal bits = same value or both NaN
    def bits(df: DataFrame, c: Column): Map[Long, Option[Long]] =
      df.repartition(4).select($"id", c).collect().map(r => r.getLong(0) ->
        Option(r.get(1)).map(x => java.lang.Double.doubleToLongBits(x.asInstanceOf[Double])))
        .toMap
    for ((wholeStage, factory) <- Seq(("true", "FALLBACK"), ("false", "NO_CODEGEN"));
         df <- Seq(pairs, edges)) {
      ref.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      ref.conf.set("spark.sql.codegen.factoryMode", factory)
      val native = bits(df, CosineSimilarity.cosineSim($"a", $"b"))
      val fold = bits(df, foldCosine($"a", $"b"))
      assert(native.size == df.count() && native == fold,
        s"wholeStage=$wholeStage: ${(native.toSet diff fold.toSet).take(5)}")
    }
    val edgeNulls = bits(edges, CosineSimilarity.cosineSim($"a", $"b"))
      .collect { case (id, None) => id }.toSet
    assert(edgeNulls == Set(1L, 2L, 3L, 4L, 5L, 6L),
      "null elements, a null array, a length mismatch and zero norms are null")
    // the engine's session is ANSI: there the fold cannot score a zero
    // vector at all, while cosine_sim yields null
    val zero = spark.sql("SELECT array(0D, 0D) AS a, array(1D, 1D) AS b").repartition(1)
    assert(zero.select(CosineSimilarity.cosineSim(col("a"), col("b"))).head.isNullAt(0))
    val err = intercept[Exception](zero.select(foldCosine(col("a"), col("b"))).collect())
    assert(causes(err).exists(e => String.valueOf(e.getMessage).contains("DIVIDE_BY_ZERO")), err)
  }

  test("no s-family plan or x04/x07/x08/x09 view plans a zip_with fold") {
    val probe = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("embedding").cast("array<double>").as("v"))
    assert(planOf(probe.select(foldCosine(col("v"), col("v")))).contains("zip_with"),
      "audit went vacuous: the fold no longer plans as zip_with")
    val views = Seq("x04_sql_neardup_view", "x07_sql_text_signals",
      "x08_sql_knn_view", "x09_sql_topk_view")
    val plans = Similarity.queries.toSeq ++
      views.map(v => v -> graft.queries.SqlSurface.queries(v))
    plans.foreach { case (name, fn) =>
      val plan = planOf(fn(spark, sfDir))
      assert(!plan.contains("zip_with"), s"$name plans a zip_with fold:\n$plan")
    }
  }

  test("cosine_sim is callable from SQL after registration and stays in codegen") {
    CosineSimilarity.register(spark)
    val r = spark.sql("SELECT cosine_sim(array(1d,0d), array(1d,0d)) AS c").head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
    val df = Similarity.queries("s04_cosine_topk_native")(spark, sfDir)
    df.collect() // finalize the adaptive plan so codegen stages materialize
    val finalPlan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen spans in the plan string
    assert(finalPlan.contains("*("), finalPlan)
    assert(finalPlan.contains("cosine_sim"), finalPlan)
  }

  test("cosine_sim yields null on length mismatch, matching the HOF fold") {
    CosineSimilarity.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1d), array(1d, 1d)) AS c").head
    assert(r.isNullAt(0), "mismatched dimensions must surface as null, not a prefix dot")
    val hof = spark.sql(
      """SELECT aggregate(zip_with(array(1d), array(1d, 1d), (x, y) -> x * y),
         0d, (acc, v) -> acc + v) AS c""").head
    assert(hof.isNullAt(0), "HOF fold agrees")
  }

  test("cosine values are bounded and self-similarity is 1") {
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val self = e.withColumn("c", CosineSimilarity.cosineSim($"v", $"v"))
      .filter(abs($"c" - 1.0) > 1e-9)
    assert(self.count() == 0)
  }

  test("s05 int8 quantization error stays under 2% absolute cosine") {
    val df = Similarity.queries("s05_quantized_cosine")(spark, sfDir)
    assert(df.filter(col("quant_err") > 0.02).count() == 0,
      "symmetric int8 quantization of 64-dim vectors must track cosine closely")
  }

  test("s13 PQ-ADC shortlist recalls most of the exact top-10") {
    import spark.implicits._
    val pq = Similarity.queries("s13_pq_adc")(spark, sfDir)
      .select($"vec_id").as[Long].collect().toSet
    assert(!pq.contains(0L), "the probe must not match itself")
    assert(pq.size == 10)
    val exact = Similarity.queries("s01_cosine_topk")(spark, sfDir)
      .select($"vec_id").as[Long].collect().toSet
    // 8-byte codes + 40-deep shortlist should recover most of the true
    // top-10; below half overlap the ADC scoring would be broken, not
    // merely approximate
    assert((pq & exact).size >= 5,
      s"PQ recall collapsed: ${(pq & exact).size}/10 vs exact")
  }

  test("s03 IVF searches only the assigned cell") {
    val df = Similarity.queries("s03_ivf_ann")(spark, sfDir)
    val labels = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("neighbor_id"), col("label"))
    val bad = df.join(labels, "neighbor_id").filter(col("cell") =!= col("label"))
    assert(bad.count() == 0)
  }

  test("s06 nprobe=2 recall vs brute force is >= single-cell s03 recall") {
    // s06's candidate pool is a superset of s03's per probe, and both
    // rank by true cosine, so recall against the exact answer (s02
    // top-3) can only improve or hold
    def hits(name: String): Long = {
      val exact = Similarity.queries("s02_batch_knn")(spark, sfDir)
        .select(col("probe_id"), col("neighbor_id"))
      Similarity.queries(name)(spark, sfDir)
        .select(col("probe_id"), col("neighbor_id"))
        .intersect(exact).count()
    }
    assert(hits("s06_ivf_nprobe") >= hits("s03_ivf_ann"))
  }

  test("s07 k-means partitions the corpus and improves on seed assignment") {
    import org.apache.spark.sql.functions.{col, sum}
    val df = Similarity.queries("s07_kmeans")(spark, sfDir)
    val rows = df.collect()
    assert(rows.length <= 8, "at most k clusters")
    val total = df.agg(sum(col("n_members"))).head.getLong(0)
    assert(total == graft.sources.Tables.embeddings(spark, sfDir).count(),
      "every vector assigned to exactly one cluster")
    rows.foreach { r =>
      assert(r.getAs[Double]("avg_cos") >= -1.0 && r.getAs[Double]("avg_cos") <= 1.0)
    }
  }

  test("s12 semantic dedup: membership agrees with s07, drops bounded and consistent") {
    import org.apache.spark.sql.functions.{col, sum}
    val s12 = Similarity.queries("s12_semantic_dedup")(spark, sfDir)
    val s07 = Similarity.queries("s07_kmeans")(spark, sfDir)
    // the pair check must not change the clustering: per-cluster member
    // counts are exactly s07's
    val m12 = s12.select(col("cluster"), col("n_members")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m07 = s07.select(col("cluster"), col("n_members")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m12 == m07, "s12 clusters must be s07's assignment")
    s12.collect().foreach { r =>
      val (m, d, rate) = (r.getAs[Long]("n_members"),
        r.getAs[Long]("n_dropped"), r.getAs[Double]("drop_rate"))
      assert(d >= 0 && d < m, "keep-lowest-id always keeps at least one")
      assert(math.abs(rate - d.toDouble / m) < 1e-6)
    }
    val dropped = s12.agg(sum(col("n_dropped"))).head.getLong(0)
    assert(dropped > 0, "the corpus plants in-cluster near-dups")
  }

  test("s01 brute-force top-k plans as TakeOrderedAndProject with a broadcast query side") {
    val plan = planOf(Similarity.queries("s01_cosine_topk")(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("Broadcast"), plan)
  }

  test("public API: cosineTopK and knn work on a caller's own schema") {
    import spark.implicits._
    def vec(xs: Double*): Array[Double] = xs.toArray
    val corpus = Seq(
      (11L, vec(1, 0, 0)), (12L, vec(0.9, 0.1, 0)),
      (13L, vec(0, 1, 0)), (14L, vec(0, 0, 1))
    ).toDF("item", "emb")
    val q = Seq(Tuple1(vec(1, 0, 0))).toDF("qv")
    val top = Similarity.cosineTopK(corpus, col("item"), col("emb"), q, 2)
      .as[(Long, Double)].collect().toSeq
    assert(top.map(_._1) == Seq(11L, 12L), s"nearest-first: $top")
    val probes = Seq((11L, vec(1.0, 0, 0))).toDF("probe_id", "pv")
    val nn = Similarity.knn(corpus, col("item"), col("emb"), probes, 2)
      .orderBy("rank").collect()
    assert(nn.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(12L, 13L),
      "self is excluded, nearest others ranked")
  }

  test("mmrRerank trades relevance for diversity: the near-dup of #1 loses its #2 spot") {
    import spark.implicits._
    // a (id 1) is most query-similar; a' (id 2) is a near-copy of a and
    // the SECOND most query-similar; b (id 3) is less relevant but
    // orthogonal-ish. Plain top-2 = {a, a'}; MMR's diversity penalty on
    // a' (sim(a,a') ~ 1) must promote b to rank 2.
    val cand = Seq(
      (1L, Seq(1.0, 0.0, 0.1), 0.95),
      (2L, Seq(1.0, 0.01, 0.1), 0.94),
      (3L, Seq(0.1, 1.0, 0.0), 0.80)
    ).toDF("vec_id", "v", "simq")
    val picks = Similarity.mmrRerank(cand, 3, 0.7, 0.3, "spec")
      .orderBy("mmr_rank")
      .select("vec_id").as[Long].collect().toSeq
    assert(picks == Seq(1L, 3L, 2L),
      s"diversity penalty must demote the near-duplicate: $picks")
  }

  test("mmrRerank rejects a shortlist of mixed dimensions, naming both vec_ids") {
    import spark.implicits._
    val cand = Seq(
      (1L, Seq(1.0, 0.0, 0.1), 0.95),
      (2L, Seq(1.0, 0.01), 0.94),
      (3L, Seq(0.1, 1.0, 0.0), 0.80)
    ).toDF("vec_id", "v", "simq")
    val err = intercept[Exception](
      Similarity.mmrRerank(cand, 3, 0.7, 0.3, "spec_dims").collect())
    val iae = causes(err).collectFirst { case e: IllegalArgumentException => e }
    assert(iae.exists(e => e.getMessage.contains("vec_id 1 ") &&
      e.getMessage.contains("vec_id 2 ")), err)
  }

  test("stored IVF index: durable build, version-pinned serving, tombstoned refresh") {
    import spark.implicits._
    val dir = graft.util.Scratch.dir("sim_ivf_index_spec")
    graft.util.Scratch.deleteRecursively(new java.io.File(dir))
    def vec(seed: Int): Seq[Double] =
      Seq.tabulate(8)(i => ((seed * 31 + i * 7) % 17).toDouble - 5.0)
    val corpus = (0L until 12L)
      .map(id => (id, id % 3, vec(id.toInt))).toDF("vec_id", "label", "v")
    val v0 = Similarity.buildIvfIndex(spark, corpus, dir)
    assert(v0 === 0L)
    val stored = graft.sources.VersionedTable.read(spark, dir)
    // self-contained artifact: params + one centroid per cell + one
    // code row per corpus vector (vectors carried for serving) + the
    // PQ half (sign codes per vector, per-dim magnitude profile)
    assert(stored.filter($"part" === "param").count() === 3)
    assert(stored.filter($"part" === "centroid").count() === 3)
    assert(stored.filter($"part" === "code").count() === 12)
    assert(stored.filter($"part" === "pqcode").count() === 12)
    assert(stored.filter($"part" === "pqstat").count() === 8)
    // a stored sign code IS the sign pattern of its vector's one
    // 8-dim subspace
    val pc0 = stored.filter($"part" === "pqcode" && $"id" === 2L)
      .select($"vec".getItem(0)).as[Double].head().toLong
    val expect0 = vec(2).zipWithIndex
      .collect { case (x, j) if x > 0 => 1L << j }.sum
    assert(pc0 === expect0, "stored PQ code must match the sign pattern")
    val nlist = stored.filter($"part" === "param" && $"id" === 0)
      .select($"cell").as[Long].head()
    assert(nlist === 3L)
    // serving reads ONLY the artifact: results equal brute force over
    // the stored code rows restricted to the probed cells
    val probes = Seq((100L, vec(5))).toDF("probe_id", "pv")
    val hits = Similarity.ivfIndexSearch(spark, dir, probes, k = 2,
      nprobe = 3) // nprobe = all cells -> exact over stored rows
      .orderBy($"rank").collect()
    val brute = stored.filter($"part" === "code").collect()
      .map(r => (r.getAs[Long]("id"),
        r.getAs[Seq[Double]]("vec").zip(vec(5)).map(p => p._1 * p._2).sum /
          (math.sqrt(r.getAs[Seq[Double]]("vec").map(x => x * x).sum) *
           math.sqrt(vec(5).map(x => x * x).sum))))
      .sortBy { case (id, c) => (-math.rint(c * 1e9) / 1e9, id) }
      .take(2).map(_._1).toSeq
    assert(hits.map(_.getAs[Long]("neighbor_id")).toSeq === brute,
      "full-nprobe stored-index search must equal brute force over the artifact")
    // refresh after corpus shrinks: vanished ids tombstoned, new
    // version committed, old version still serves (index time travel)
    val corpus2 = corpus.filter($"vec_id" =!= 7L)
    val v1 = Similarity.refreshIvfIndex(spark, corpus2, dir)
    assert(v1 > v0)
    val now = graft.sources.VersionedTable.read(spark, dir)
    assert(now.filter($"part" === "code").count() === 11)
    assert(now.filter($"part" === "code" && $"id" === 7L).isEmpty)
    val pinned = graft.sources.VersionedTable.read(spark, dir, Some(v0))
    assert(pinned.filter($"part" === "code").count() === 12,
      "a reader pinned to the old index version keeps serving it")
  }

  test("s10 recall is monotonically non-decreasing in nprobe") {
    // nprobe=2 searches a superset of nprobe=1's cell, so per probe its
    // hit count can never be lower — the invariant that makes nprobe a
    // recall KNOB rather than a different algorithm
    val rows = Similarity.queries("s10_ann_recall")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("hits_nprobe2") >= r.getAs[Long]("hits_nprobe1"),
        r.toString)
    }
  }
}
