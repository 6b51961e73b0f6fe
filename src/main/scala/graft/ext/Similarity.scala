package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.ArrayData
import graft.functions.CosineSimilarity
import graft.functions.CosineSimilarity.cosineSim
import graft.plans.TopKPerKey
import graft.queries.QueryModule
import graft.sources.Tables

/** Similarity search over the `embeddings` table (north-star extension):
  * brute-force cosine top-k as the exact baseline, and an IVF-style
  * partitioned search as the scale path.
  *
  * Numerics: all arithmetic is double precision — the float32 input is
  * cast up first (exact), and every cosine is `cosine_sim`
  * (graft.functions.CosineSimilarity), one sequential left-to-right
  * loop, so the value is deterministic and reproducible; outputs are
  * rounded to 1e-6 so engine-internal expression-order differences
  * (dot/(sqrt*sqrt) vs dot/sqrt(product)) cannot surface.
  *
  * Scale design:
  *  - s01 brute force is a map-only scan + TakeOrderedAndProject: the
  *    query vector is broadcast, only k rows reach the driver — this IS
  *    the right plan at 100 TB when you need exact top-k;
  *  - s02 batches the probe side through one broadcast join — probes ×
  *    corpus stays a single shuffle-free stage, per-probe ranking via
  *    the TopKPerKey operator (bounded partial heaps, O(k)-per-probe
  *    shuffle — never a window sort over the match product);
  *  - s03 prunes the corpus with a coarse quantizer (label centroids —
  *    k-means assignment precomputed by the data, the IVF shape): each
  *    probe searches one partition, cutting scanned vectors ~10x here
  *    and |partitions|x in general.
  *
  * The IVF and PQ steps are written once, below, and every query, the
  * public operators and the stored index are compositions of them.
  */
object Similarity extends QueryModule {

  private val slots = new graft.util.PersistSlots

  /** The corpus as (vec_id, `extra`..., v: array<double>). */
  private def vectors(s: SparkSession, d: String, extra: Column*): DataFrame =
    Tables.embeddings(s, d).select((col("vec_id") +: extra :+
      col("embedding").cast("array<double>").as("v")): _*)

  /** The s-family probe set: vectors with vec_id < 10, as (probe_id, pv). */
  private def probeSet(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 10).select(col("vec_id").as("probe_id"), col("v").as("pv"))

  /** Mean vector per `key` (the coarse quantizer's cells): `vecs` holds
    * (`key`, v); returns (`key`, cv), cv in dimension order. */
  private def centroids(vecs: DataFrame, key: String): DataFrame =
    vecs.select(col(key), posexplode(col("v")).as(Seq("p", "x")))
      .groupBy(col(key), col("p")).agg(avg(col("x")).as("cx"))
      .groupBy(col(key))
      .agg(transform(array_sort(collect_list(struct(col("p"), col("cx")))),
        c => c.getField("cx")).as("cv"))

  /** The corpus rows (vec_id, cell, ...) of each probe's `nprobe`
    * nearest cells, the probe itself excluded, joined to the probe's
    * (probe_id, pv). `cents` holds (cell, cv); cells rank by
    * round(cos, 9) descending, lowest cell first on ties. Probes and
    * centroids are broadcast; the corpus is scanned once. A corpus
    * vector lives in exactly one cell, so probed cells contribute
    * disjoint candidates. */
  private def probeCells(corpus: DataFrame, cents: DataFrame,
      probes: DataFrame, nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(round(col("ccos"), 9).desc, col("cell"))
    val assign = probes
      .select(col("probe_id"), col("pv").cast("array<double>").as("pv"))
      .crossJoin(broadcast(cents))
      .withColumn("ccos", cosineSim(col("pv"), col("cv")))
      .withColumn("arn", row_number().over(w))
      .filter(col("arn") <= nprobe)
      .select(col("probe_id"), col("pv"), col("cell").as("pcell"))
    corpus.join(broadcast(assign),
      col("cell") === col("pcell") && col("vec_id") =!= col("probe_id"))
  }

  /** The top `k` rows per probe of `scored` (probe_id, vec_id, cos, ...)
    * by round(cos, 9) descending, vec_id ascending: TopKPerKey's partial
    * heaps cap each partition at k rows per probe BEFORE the exchange
    * (never a window sort over the match product), and the rank window
    * runs over at most k rows per probe. Returns (probe_id, `keep`...,
    * neighbor_id, rank, cos_sim). */
  private def rankTopK(scored: DataFrame, k: Int, keep: Column*): DataFrame = {
    val order = Seq(round(col("cos"), 9).desc, col("vec_id"))
    TopKPerKey.topKPerKey(scored, k, Seq(col("probe_id")), order)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(order: _*)).cast("long"))
      .select((col("probe_id") +: keep :+ col("vec_id").as("neighbor_id") :+
        col("rank") :+ round(col("cos"), 6).as("cos_sim")): _*)
  }

  // ---- product quantization: the analytic sign codebook and its ADC.
  // All profile/LUT/ADC arithmetic is integer micro-units (g01's
  // determinism discipline): sums commute, so every engine and every
  // partitioning agrees.

  /** Per-dimension magnitude profile of the vectors (v): (i, si, n) with
    * S_i = sum round(|x_i| * 1e6) and n the vectors counted. */
  private def dimProfile(vecs: DataFrame): DataFrame =
    vecs.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(sum(expr("CAST(round(abs(x) * 1000000) AS BIGINT)")).as("si"),
        count(lit(1)).as("n"))

  /** Per-probe query weights (probe_id, i, wi) from a profile (i, si, n):
    * w_i = round(pv_i * (S_i / (n * 1e6)) * 1e9), the factor an agreeing
    * sign bit contributes to the ADC score. */
  private def queryWeights(profile: DataFrame, probes: DataFrame): DataFrame =
    profile.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("i"), expr(
        "CAST(round((element_at(pv, i + 1) * (si / (n * 1000000.0))) * 1000000000.0) AS BIGINT)")
        .as("wi"))

  /** The ADC lookup table (probe_id, sp, code, wsc) of the weights: the
    * score of code c in 8-dim subspace sp is sum_j ±w_{sp*8+j}, plus
    * where bit j of c is set — 2,048 (sp, code) rows per probe. */
  private def adcLut(weights: DataFrame): DataFrame = {
    val s = weights.sparkSession
    s.range(0, 2048)
      .select(floor(col("id") / 256).cast("long").as("sp"),
        (col("id") % 256).cast("long").as("code"))
      .crossJoin(s.range(0, 8).select(col("id").cast("long").as("j")))
      .withColumn("i", (col("sp") * 8 + col("j")).cast("int"))
      .join(broadcast(weights), "i")
      .withColumn("t", when(
        expr("shiftright(code, CAST(j AS INT)) & 1") === 1L, col("wi"))
        .otherwise(-col("wi")))
      .groupBy(col("probe_id"), col("sp"), col("code")).agg(sum(col("t")).as("wsc"))
  }

  /** The sign codes of `v` over its first `nsp` 8-dim subspaces: bit j
    * of code sp is set when v[sp*8+j] > 0 (packed little-endian) — the
    * 8-byte compressed form a PQ index stores per 64-dim vector. */
  private def signCodes(v: Column, nsp: Int): Column =
    array((0 until nsp).map(sp => (0 until 8)
      .map(j => when(element_at(v, sp * 8 + j + 1) > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)): _*)

  /** PQ-ADC search with exact re-rank: candidates (probe_id, vec_id,
    * codes) score through `lut` as one table probe per subspace — never
    * a full dot product — the top `depth` per probe by (adc desc,
    * vec_id) pay the only exact cosines against `vecs` (vec_id, v, ...),
    * and `rankTopK` keeps `k`. Returns rankTopK's columns with
    * adc_score first among the kept ones. */
  private def adcSearch(cands: DataFrame, lut: DataFrame, depth: Int,
      vecs: DataFrame, probes: DataFrame, k: Int, keep: Column*): DataFrame = {
    val adc = cands.select(col("probe_id"), col("vec_id"),
        posexplode(col("codes")).as(Seq("sp", "cd")))
      .select(col("probe_id"), col("vec_id"), col("sp").cast("long").as("sp"),
        col("cd").cast("long").as("code"))
      .join(broadcast(lut), Seq("probe_id", "sp", "code"))
      .groupBy(col("probe_id"), col("vec_id")).agg(sum(col("wsc")).as("adc"))
    val short = TopKPerKey.topKPerKey(adc, depth,
      Seq(col("probe_id")), Seq(col("adc").desc, col("vec_id")))
    val exact = short.join(vecs, "vec_id").join(broadcast(probes), "probe_id")
      .withColumn("cos", cosineSim(col("v"), col("pv")))
    rankTopK(exact, k, (round(col("adc") / 1e9, 6).as("adc_score") +: keep): _*)
  }

  /** PUBLIC operator: exact cosine top-k of a corpus against a 1-row
    * query-vector DataFrame (broadcast; TakeOrderedAndProject keeps the
    * scan single-pass with only k survivors). `query` must have one
    * row and one array<double> column named qv. */
  def cosineTopK(corpus: DataFrame, id: Column, vec: Column,
      query: DataFrame, k: Int): DataFrame =
    corpus.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
      .crossJoin(broadcast(query))
      .withColumn("cos", cosineSim(col("v"), col("qv").cast("array<double>")))
      .select(col("vec_id"), round(col("cos"), 6).as("cos_sim"))
      .orderBy(round(col("cos"), 9).desc, col("vec_id"))
      .limit(k)

  /** PUBLIC operator: batched exact kNN — top-k corpus neighbors per
    * probe row, ranked through the TopKPerKey operator so the
    * probes x corpus match set is capped at k rows per probe per
    * partition BEFORE any exchange. `probes` needs (probe_id, pv). */
  def knn(corpus: DataFrame, id: Column, vec: Column,
      probes: DataFrame, k: Int): DataFrame = {
    val scored = corpus.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosineSim(col("v"), col("pv").cast("array<double>")))
    rankTopK(scored, k)
  }

  /** s01 — exact cosine top-k against a fixed query vector (vec_id 0).
    * The 1-row query side is broadcast; TakeOrderedAndProject keeps the
    * scan single-pass with only k survivors.
    */
  private def s01(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vectors(s, d)
    val q = e.filter($"vec_id" === 0).select($"v".as("qv"))
    cosineTopK(e.filter($"vec_id" =!= 0), $"vec_id", $"v", q, 10)
  }
  private val s01Sql =
    """SELECT vec_id,
         round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
       FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> 0) e
       CROSS JOIN (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
       ORDER BY round(list_cosine_similarity(e.v, q.qv), 9) DESC, vec_id
       LIMIT 10"""

  /** s02 — batched kNN: top-3 neighbors for every probe in a probe set
    * (vec_id < 10), one broadcast of the probes, per-probe ranking
    * through the TopKPerKey operator (graft.plans.TopKPerKeyPlan):
    * partial heaps cap each scan partition's contribution at k rows per
    * probe BEFORE the shuffle, so the corpus×probes product never feeds
    * a sort — at 100 TB the exchange moves O(partitions·probes·k) rows,
    * not the full match set (a window row_number here would shuffle the
    * whole product into |probes| partitions). The residual rank window
    * runs over ≤k rows per probe — a no-op at any scale.
    */
  private def s02(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vectors(s, d)
    knn(e, $"vec_id", $"v", probeSet(e), 3)
      .orderBy($"probe_id", $"rank")
  }
  private val s02Sql =
    """SELECT probe_id, neighbor_id, rank, cos_sim FROM (
         SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY p.vec_id
             ORDER BY round(list_cosine_similarity(e.v, p.v), 9) DESC, e.vec_id) AS rank,
           round(list_cosine_similarity(e.v, p.v), 6) AS cos_sim
         FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e
         JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10) p
           ON e.vec_id <> p.vec_id)
       WHERE rank <= 3 ORDER BY probe_id, rank"""

  /** s03 — IVF-style ANN: label centroids act as the coarse quantizer
    * (the inverted-file cell list); each probe is assigned to its
    * nearest centroid and searches only that cell. Centroids are a tiny
    * aggregate (|labels| rows) — broadcast both ways; the corpus is
    * scanned once, partitioned by label.
    */
  private def s03(s: SparkSession, d: String): DataFrame =
    labelIvf(s, d, nprobe = 1).orderBy(col("probe_id"), col("rank"))

  /** The in-memory IVF search of s03 and s06: the label centroids are
    * the cells, each probe (vec_id < 10) searches its `nprobe` nearest,
    * top-3 per probe with the searched cell kept. */
  private def labelIvf(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val e = vectors(s, d, col("label").as("cell"))
    rankTopK(probeCells(e, centroids(e, "cell"), probeSet(e), nprobe)
      .withColumn("cos", cosineSim(col("v"), col("pv"))), 3, col("cell"))
  }
  private val s03Sql =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       cent AS (
         SELECT label, list(cx ORDER BY p) AS cv FROM (
           SELECT label, p, avg(x) AS cx FROM (
             SELECT label, i AS p, v[i] AS x
             FROM e, unnest(generate_series(1, len(v))) AS t(i))
           GROUP BY label, p)
         GROUP BY label),
       probes AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
       assign AS (
         SELECT probe_id, pv, cell FROM (
           SELECT p.probe_id, p.pv, c.label AS cell,
             row_number() OVER (PARTITION BY p.probe_id
               ORDER BY round(list_cosine_similarity(p.pv, c.cv), 9) DESC, c.label) AS arn
           FROM probes p CROSS JOIN cent c)
         WHERE arn = 1)
       SELECT probe_id, cell, neighbor_id, rank, cos_sim FROM (
         SELECT a.probe_id, a.cell, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.probe_id
             ORDER BY round(list_cosine_similarity(e.v, a.pv), 9) DESC, e.vec_id) AS rank,
           round(list_cosine_similarity(e.v, a.pv), 6) AS cos_sim
         FROM e JOIN assign a ON e.label = a.cell AND e.vec_id <> a.probe_id)
       WHERE rank <= 3 ORDER BY probe_id, rank"""

  /** s06 — IVF with nprobe=2: each probe searches its TWO nearest
    * cells instead of one (the standard IVF recall knob — a probe near
    * a cell boundary recovers neighbors the single-cell search loses;
    * cost grows linearly with nprobe, still |cells|/nprobe-fold less
    * than the full corpus). Ranking is global per probe across both
    * cells, through TopKPerKey like s02/s03 (`labelIvf`).
    */
  private def s06(s: SparkSession, d: String): DataFrame =
    labelIvf(s, d, nprobe = 2).drop("cell").orderBy(col("probe_id"), col("rank"))
  private val s06Sql =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       cent AS (
         SELECT label, list(cx ORDER BY p) AS cv FROM (
           SELECT label, p, avg(x) AS cx FROM (
             SELECT label, i AS p, v[i] AS x
             FROM e, unnest(generate_series(1, len(v))) AS t(i))
           GROUP BY label, p)
         GROUP BY label),
       probes AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
       assign AS (
         SELECT probe_id, pv, cell FROM (
           SELECT p.probe_id, p.pv, c.label AS cell,
             row_number() OVER (PARTITION BY p.probe_id
               ORDER BY round(list_cosine_similarity(p.pv, c.cv), 9) DESC, c.label) AS arn
           FROM probes p CROSS JOIN cent c)
         WHERE arn <= 2)
       SELECT probe_id, neighbor_id, rank, cos_sim FROM (
         SELECT a.probe_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.probe_id
             ORDER BY round(list_cosine_similarity(e.v, a.pv), 9) DESC, e.vec_id) AS rank,
           round(list_cosine_similarity(e.v, a.pv), 6) AS cos_sim
         FROM e JOIN assign a ON e.label = a.cell AND e.vec_id <> a.probe_id)
       WHERE rank <= 3 ORDER BY probe_id, rank"""

  /** s04 — s01's exact cosine top-k under its own name: with
    * `cosine_sim` the only cosine the two are one body, and s04 stays a
    * named query of the catalogue (`SparkEntry.queries`), checked
    * against s01's oracle. */
  private def s04(s: SparkSession, d: String): DataFrame = s01(s, d)

  /** s05 — int8 quantized cosine (the memory-bound scale path: 4x
    * smaller vectors, SIMD-able integer dot products). Per-vector
    * symmetric quantization q_i = clamp(round(x_i / (max|x|/127))); the
    * scales cancel in cosine, so the approximate similarity is the
    * integer-space cosine directly. Output pairs the approximation with
    * the exact value — the quantization error is part of the oracle-
    * checked result, not a hand-waved claim.
    */
  private def s05(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def quantize(v: Column): Column = {
      val scale = array_max(transform(v, x => abs(x))) / 127.0
      transform(v, x => greatest(lit(-127L), least(lit(127L),
        round(x / scale).cast("long"))).cast("double"))
    }
    val e = vectors(s, d)
      // all-zero vectors have no defined cosine and a zero quantization
      // scale (division blows up differently per engine) — exclude them
      .filter(array_max(transform($"v", x => abs(x))) > 0)
      .withColumn("qv", quantize($"v"))
    val q = e.filter($"vec_id" === 0).select($"v".as("q_v"), $"qv".as("q_qv"))
    e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("approx_cos", cosineSim($"qv", $"q_qv"))
      .withColumn("exact_cos", cosineSim($"v", $"q_v"))
      .select($"vec_id", round($"approx_cos", 6).as("approx_cos"),
        round($"exact_cos", 6).as("exact_cos"),
        round(abs($"approx_cos" - $"exact_cos"), 6).as("quant_err"))
      .orderBy(round($"approx_cos", 9).desc, $"vec_id")
      .limit(10)
  }
  private val s05Sql =
    """WITH e AS (
         SELECT vec_id, embedding::DOUBLE[] AS v,
           list_transform(embedding::DOUBLE[], x -> CAST(greatest(-127, least(127,
             CAST(round(x / (list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) / 127.0)) AS BIGINT))) AS DOUBLE)) AS qv
         FROM embeddings
         WHERE list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) > 0),
       q AS (SELECT v AS q_v, qv AS q_qv FROM e WHERE vec_id = 0)
       SELECT vec_id,
         round(list_cosine_similarity(e.qv, q.q_qv), 6) AS approx_cos,
         round(list_cosine_similarity(e.v, q.q_v), 6) AS exact_cos,
         round(abs(list_cosine_similarity(e.qv, q.q_qv) - list_cosine_similarity(e.v, q.q_v)), 6) AS quant_err
       FROM (SELECT * FROM e WHERE vec_id <> 0) e CROSS JOIN q
       ORDER BY round(list_cosine_similarity(e.qv, q.q_qv), 9) DESC, vec_id
       LIMIT 10"""

  /** s07 — distributed k-means over the embedding corpus (two unrolled
    * Lloyd iterations, k=8, seeds = the first 8 vectors — deterministic,
    * no RNG): assignment is a broadcast of the k tiny centroids against
    * one corpus scan (map-side argmax, round-9 tie-broken by cluster id
    * — the s03 discipline); the centroid update shuffles only
    * (cluster, position, value) triples and aggregates k×dim cells.
    * At 100 TB each iteration is exactly one linear scan plus a
    * k×dim-sized aggregate — the canonical scalable k-means layout;
    * more iterations are the same two stages repeated. Embedding
    * clustering is the corpus-curation workhorse (topic balancing,
    * domain mixing, semantic dedup seeding). */
  /** The two-Lloyd-pass k=8 assignment of s07 as a reusable table:
    * (vec_id, v, cl, cc). s07 aggregates it per cluster; s12 keys the
    * semantic-dedup pair check by it. */
  private def kmeansAssignments(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vectors(s, d)
    val seeds = e.filter($"vec_id" < 8)
      .select($"vec_id".as("cl"), $"v".as("cv"))
    def assign(cents: DataFrame): DataFrame = {
      // all k centroids collapse into ONE broadcast row and the
      // per-vector argmax is a map-side fold over that array — zero
      // shuffle, zero extra corpus rows. (The previous form ranked the
      // corpus x k crossJoin product through a row_number window
      // partitioned by vec_id: an 8n-row exchange per Lloyd pass, twice
      // per run, for an argmax computable inside the scan stage.)
      // Tie-break preserved exactly: highest round(cos, 9) wins, lowest
      // cluster id on ties — the comparison is order-independent, so
      // collect_list's nondeterministic order cannot change the result.
      val centsArr = cents.agg(collect_list(struct($"cl", $"cv")).as("cents"))
      e.crossJoin(broadcast(centsArr))
        .withColumn("best", aggregate(
          $"cents",
          struct(lit(Double.NegativeInfinity).as("key"),
            lit(Long.MaxValue).as("cl"), lit(0.0).as("cc")),
          (acc, c) => {
            val cc = cosineSim($"v", c.getField("cv"))
            val key = round(cc, 9)
            when(key > acc.getField("key") ||
                 (key === acc.getField("key") && c.getField("cl") < acc.getField("cl")),
              struct(key.as("key"), c.getField("cl").as("cl"), cc.as("cc")))
              .otherwise(acc)
          }))
        .select($"vec_id", $"v", $"best.cl".as("cl"), $"best.cc".as("cc"))
    }
    assign(centroids(assign(seeds), "cl"))
  }

  private def s07(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    kmeansAssignments(s, d)
      .groupBy($"cl".as("cluster"))
      .agg(count(lit(1)).as("n_members"), round(avg($"cc"), 6).as("avg_cos"))
      .orderBy($"cluster")
  }
  private val s07Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       seeds AS (SELECT vec_id AS cl, v AS cv FROM e WHERE vec_id < 8),
       a1 AS (
         SELECT vec_id, v, cl FROM (
           SELECT e.vec_id, e.v, s.cl,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(e.v, s.cv), 9) DESC, s.cl) AS rn
           FROM e CROSS JOIN seeds s)
         WHERE rn = 1),
       cent1 AS (
         SELECT cl, list(cx ORDER BY p) AS cv FROM (
           SELECT cl, p, avg(x) AS cx FROM (
             SELECT cl, i AS p, v[i] AS x
             FROM a1, unnest(generate_series(1, len(v))) AS t(i))
           GROUP BY cl, p)
         GROUP BY cl),
       a2 AS (
         SELECT vec_id, cl, cc FROM (
           SELECT e.vec_id, c.cl, list_cosine_similarity(e.v, c.cv) AS cc,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(e.v, c.cv), 9) DESC, c.cl) AS rn
           FROM e CROSS JOIN cent1 c)
         WHERE rn = 1)
       SELECT cl AS cluster, count(*) AS n_members,
         round(avg(cc), 6) AS avg_cos
       FROM a2 GROUP BY cl ORDER BY cluster"""

  /** s12 — SEMANTIC dedup (the SemDeDup recipe): k-means clustering
    * bounds the quadratic cosine near-dup check to WITHIN-cluster pairs.
    * The assignment is s07's two-Lloyd-pass pipeline (one corpus scan +
    * broadcast centroids per pass); the pair space shrinks from n² to
    * Σ n_c² — with k grown proportionally to the corpus, per-cluster
    * membership stays bounded and the check stays linear overall. A
    * vector is DROPPED when a smaller-id member of its own cluster sits
    * within cosine >= 0.4 (keep-lowest-id, the d01/d07 representative
    * discipline). Output: per-cluster members, drops, and drop rate.
    *
    * Scale notes: a bare self-join keyed on the cluster id alone puts
    * one cluster's whole pair space in ONE task's hash partition — with
    * k=8 clusters the job runs 8 tasks no matter how many cores exist
    * (measured: 12 s wall on 76 s CPU at sf1). AQE's skew split can't
    * help: its trigger is partition BYTES, and these partitions are
    * byte-small but compute-quadratic. So the pair space is tiled
    * deterministically: members hash into B=8 blocks (pmod(vec_id, B)),
    * and the join keys on (cl, bi, bj) over the B(B+1)/2 ordered block
    * pairs — each row replicated B+1 times total across the two sides
    * (row in block b serves as the left of pairs (b, b..B-1) and the
    * right of (0..b, b)), giving 8·36 = 288 independent join cells.
    * The tiling is result-invariant for any B: a cross-block pair
    * appears in exactly one cell, a same-block pair once under the
    * ia<ib filter, and the dropped member is greatest(ia, ib) either
    * way. At 100 TB, B grows with the per-cluster population so each
    * cell stays task-sized — the same knob the scaladoc's k (more
    * centroids) turns, but without re-clustering. The assignment table
    * is persisted: it feeds both join sides and the member rollup, and
    * Spark does not share self-join subplans. */
  private def s12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val B = 8
    val a2 = slots.swap("s12a",
      kmeansAssignments(s, d).select($"vec_id", $"v", $"cl")
        .withColumn("blk", pmod($"vec_id", lit(B)).cast("int")))
    val aSide = a2
      .withColumn("bj", explode(sequence($"blk", lit(B - 1))))
      .select($"cl", $"blk".as("bi"), $"bj", $"vec_id".as("ia"), $"v".as("va"))
    val bSide = a2
      .withColumn("bi", explode(sequence(lit(0), $"blk")))
      .select($"cl", $"bi", $"blk".as("bj"), $"vec_id".as("ib"), $"v".as("vb"))
    val dropped = aSide.join(bSide, Seq("cl", "bi", "bj"))
      .filter($"bi" < $"bj" || $"ia" < $"ib")
      .withColumn("cos", cosineSim($"va", $"vb"))
      .filter(round($"cos", 6) >= 0.4)
      .select($"cl", greatest($"ia", $"ib").as("ib")).distinct()
      .groupBy($"cl").agg(count(lit(1)).as("n_dropped"))
    a2.groupBy($"cl").agg(count(lit(1)).as("n_members"))
      .join(dropped, Seq("cl"), "left")
      .select($"cl".as("cluster"), $"n_members",
        coalesce($"n_dropped", lit(0L)).as("n_dropped"),
        round(coalesce($"n_dropped", lit(0L)) / $"n_members", 6).as("drop_rate"))
      .orderBy($"cluster")
  }
  private lazy val s12Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       seeds AS (SELECT vec_id AS cl, v AS cv FROM e WHERE vec_id < 8),
       a1 AS (
         SELECT vec_id, v, cl FROM (
           SELECT e.vec_id, e.v, s.cl,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(e.v, s.cv), 9) DESC, s.cl) AS rn
           FROM e CROSS JOIN seeds s)
         WHERE rn = 1),
       cent1 AS (
         SELECT cl, list(cx ORDER BY p) AS cv FROM (
           SELECT cl, p, avg(x) AS cx FROM (
             SELECT cl, i AS p, v[i] AS x
             FROM a1, unnest(generate_series(1, len(v))) AS t(i))
           GROUP BY cl, p)
         GROUP BY cl),
       a2 AS (
         SELECT vec_id, v, cl FROM (
           SELECT e.vec_id, e.v, c.cl,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(e.v, c.cv), 9) DESC, c.cl) AS rn
           FROM e CROSS JOIN cent1 c)
         WHERE rn = 1),
       drops AS (
         SELECT cl, count(*) AS n_dropped FROM (
           SELECT DISTINCT a.cl, b.vec_id
           FROM a2 a JOIN a2 b ON a.cl = b.cl AND a.vec_id < b.vec_id
           WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4)
         GROUP BY cl),
       members AS (SELECT cl, count(*) AS n_members FROM a2 GROUP BY cl)
       SELECT m.cl AS cluster, n_members,
         coalesce(n_dropped, CAST(0 AS BIGINT)) AS n_dropped,
         round(coalesce(n_dropped, CAST(0 AS BIGINT)) / n_members, 6) AS drop_rate
       FROM members m LEFT JOIN drops d ON d.cl = m.cl
       ORDER BY cluster"""

  /** s08 — LSH-bucketed ANN with MULTI-PROBE (the hash-based
    * alternative to s03's IVF): corpus vectors bucket by the sign bits
    * of their first 6 dimensions (64 cells — the degenerate-but-
    * deterministic form of random-hyperplane LSH, same construction as
    * d05's pruning buckets), and each probe searches its own cell PLUS
    * the 6 Hamming-1 neighbor cells. Multi-probe is the recall lever
    * that makes hash ANN usable: a probe near a hyperplane recovers the
    * neighbors that fell just across it, at 7/64ths of a full scan
    * instead of a second hash table. Scale: the probe->cell fan-out is
    * a 7-row-per-probe broadcast; the corpus is scanned once,
    * filter-joined on the 6-bit cell key; ranking bounds the exchange
    * through TopKPerKey partial heaps like every s-query.
    */
  private def s08(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the sign bucket's bit order differs from the oracle's spelling,
    // but the Hamming-1 cell set of a bucket does not depend on it
    val e = vectors(s, d).withColumn("bucket", Dedup.signBucket($"v", 6))
    val fanout = e.filter($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"v".as("pv"),
        Dedup.hamming1Cells($"bucket", 6).as("cell"))
    val scored = e.join(broadcast(fanout),
        $"bucket" === $"cell" && $"vec_id" =!= $"probe_id")
      .withColumn("cos", cosineSim($"v", $"pv"))
    rankTopK(scored, 3).orderBy($"probe_id", $"rank")
  }
  private val s08Sql =
    """WITH e AS (
         SELECT vec_id, embedding::DOUBLE[] AS v,
           CAST(v[1] >= 0 AS INT) * 1 + CAST(v[2] >= 0 AS INT) * 2 +
           CAST(v[3] >= 0 AS INT) * 4 + CAST(v[4] >= 0 AS INT) * 8 +
           CAST(v[5] >= 0 AS INT) * 16 + CAST(v[6] >= 0 AS INT) * 32 AS bucket
         FROM embeddings),
       pc AS (
         SELECT vec_id AS probe_id, v AS pv, xor(bucket, f) AS cell
         FROM e, unnest([0, 1, 2, 4, 8, 16, 32]) AS t(f)
         WHERE vec_id < 10)
       SELECT probe_id, neighbor_id, rank, cos_sim FROM (
         SELECT p.probe_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY p.probe_id
             ORDER BY round(list_cosine_similarity(e.v, p.pv), 9) DESC, e.vec_id) AS rank,
           round(list_cosine_similarity(e.v, p.pv), 6) AS cos_sim
         FROM e JOIN pc p ON e.bucket = p.cell AND e.vec_id <> p.probe_id)
       WHERE rank <= 3 ORDER BY probe_id, rank"""

  /** s09 — cosine RANGE search (radius query): every corpus vector
    * within a similarity threshold of any probe, not a fixed top-k.
    * The retrieval shape dedup-by-similarity and recall-oriented
    * mining use — result size is data-dependent, so no heap bounds it;
    * instead the threshold filter runs INSIDE the scan (map-side,
    * native codegen'd cosine), and only qualifying pairs — a tiny
    * fraction of corpus×probes — ever reach the exchange for the final
    * order. At 100 TB: one corpus scan, probes broadcast, shuffle
    * volume proportional to matches, not candidates.
    */
  private def s09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vectors(s, d)
    e.filter($"vec_id" >= 10)
      .join(broadcast(probeSet(e)))
      .withColumn("cos", cosineSim($"v", $"pv"))
      .filter($"cos" >= 0.35)
      .select($"probe_id", $"vec_id".as("neighbor_id"),
        round($"cos", 6).as("cos_sim"))
      .orderBy($"probe_id", $"neighbor_id")
  }
  private val s09Sql =
    """SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(e.v, p.v), 6) AS cos_sim
       FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10) e
       JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10) p
         ON list_cosine_similarity(e.v, p.v) >= 0.35
       ORDER BY probe_id, neighbor_id"""

  /** s10 — ANN RECALL@K evaluation: the IVF index (s03) measured
    * against exact brute force (s02), per probe — |ANN ∩ exact| / k.
    * An approximate index without a measured recall number is not an
    * operator, it's a hope; this puts the quality metric itself under
    * the oracle gate (the DuckDB oracle recomputes BOTH pipelines and
    * the overlap), so an index regression shows up as a correctness
    * failure, not a silent quality drift. Scale: both sides are
    * probe-keyed top-k outputs (|probes| x k rows) — the eval join is
    * trivially small whatever the corpus size.
    */
  private def s10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val exact = s02(s, d).select($"probe_id", $"neighbor_id")
    val ivf1 = s03(s, d).select($"probe_id", $"neighbor_id", lit(1L).as("h1"))
    val ivf2 = s06(s, d).select($"probe_id", $"neighbor_id", lit(1L).as("h2"))
    exact
      .join(ivf1, Seq("probe_id", "neighbor_id"), "left")
      .join(ivf2, Seq("probe_id", "neighbor_id"), "left")
      .groupBy($"probe_id")
      .agg(sum(coalesce($"h1", lit(0L))).as("hits_nprobe1"),
        sum(coalesce($"h2", lit(0L))).as("hits_nprobe2"))
      .withColumn("recall_nprobe1", round($"hits_nprobe1" / 3.0, 6))
      .withColumn("recall_nprobe2", round($"hits_nprobe2" / 3.0, 6))
      .orderBy($"probe_id")
  }
  private lazy val s10Sql =
    s"""WITH exact AS (SELECT probe_id, neighbor_id FROM ($s02Sql)),
       ivf1 AS (SELECT probe_id, neighbor_id, CAST(1 AS BIGINT) AS h1
                FROM ($s03Sql)),
       ivf2 AS (SELECT probe_id, neighbor_id, CAST(1 AS BIGINT) AS h2
                FROM ($s06Sql))
       SELECT e.probe_id,
         CAST(sum(COALESCE(h1, 0)) AS BIGINT) AS hits_nprobe1,
         CAST(sum(COALESCE(h2, 0)) AS BIGINT) AS hits_nprobe2,
         round(sum(COALESCE(h1, 0)) / 3.0, 6) AS recall_nprobe1,
         round(sum(COALESCE(h2, 0)) / 3.0, 6) AS recall_nprobe2
       FROM exact e
       LEFT JOIN ivf1 USING (probe_id, neighbor_id)
       LEFT JOIN ivf2 USING (probe_id, neighbor_id)
       GROUP BY e.probe_id ORDER BY e.probe_id"""

  /** s11 — ranking-quality metrics for the ANN index: recall (s10)
    * says WHETHER the true neighbors were found; MRR and NDCG@3 say
    * how well they were ORDERED — the numbers a retrieval stack is
    * actually tuned on. Ground truth is the exact top-3 (s02) with
    * graded relevance 3/2/1 by exact rank; the system under test is
    * the nprobe=2 IVF ranking (s06). Per probe: MRR = 1/rank of the
    * first true neighbor in the IVF list; NDCG = DCG of the IVF
    * ordering over those gains, against the constant ideal DCG (every
    * probe has exactly 3 relevant items by construction). One
    * broadcast-sized join of two tiny top-k tables — the metrics
    * layer adds no corpus-scale work, so it can run on every index
    * build at 100 TB. The idcg denominator is spelled as the same
    * closed form on both sides so the oracle is float-identical.
    */
  private def s11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idcg = expr("3.0/log2(2.0) + 2.0/log2(3.0) + 1.0/log2(4.0)")
    val exact = s02(s, d).select($"probe_id", $"neighbor_id",
      (lit(4L) - $"rank").cast("double").as("rel"))
    val approx = s06(s, d).select($"probe_id", $"neighbor_id",
      $"rank".as("arank"))
    approx.join(exact, Seq("probe_id", "neighbor_id"), "left")
      .groupBy($"probe_id")
      .agg(
        round(coalesce(max(when($"rel".isNotNull, lit(1.0) / $"arank")),
          lit(0.0)), 6).as("mrr"),
        round(sum(coalesce($"rel" / log2($"arank" + 1), lit(0.0))) / idcg, 6)
          .as("ndcg"),
        sum(when($"rel".isNotNull, 1L).otherwise(0L)).as("hits"))
      .orderBy($"probe_id")
  }
  private lazy val s11Sql =
    s"""WITH exact AS (
         SELECT probe_id, neighbor_id, CAST(4 - rank AS DOUBLE) AS rel
         FROM ($s02Sql)),
       approx AS (
         SELECT probe_id, neighbor_id, rank AS arank FROM ($s06Sql))
       SELECT probe_id,
         round(COALESCE(max(CASE WHEN rel IS NOT NULL
             THEN CAST(1.0 AS DOUBLE) / arank END), CAST(0.0 AS DOUBLE)), 6) AS mrr,
         round(sum(COALESCE(rel / log2(arank + 1), CAST(0.0 AS DOUBLE)))
           / (3.0/log2(2.0) + 2.0/log2(3.0) + 1.0/log2(4.0)), 6) AS ndcg,
         CAST(sum(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
       FROM approx LEFT JOIN exact USING (probe_id, neighbor_id)
       GROUP BY probe_id ORDER BY probe_id"""

  /** s13 — PRODUCT QUANTIZATION with ADC (asymmetric distance
    * computation) + exact re-rank: the memory-layout ANN index behind
    * IVF-PQ systems, expressed relationally. The 64-dim vectors
    * compress to EIGHT 8-bit codes (one per 8-dim subspace — 64x
    * smaller than float64); a query scores a code via a 256-entry
    * lookup table per subspace built ONCE per query, so scoring the
    * whole corpus is 8 table probes per vector — never a 64-dim dot
    * product. The codebook here is the analytic sign codebook
    * (centroid component ±c_i with c_i the corpus mean |x_i|) rather
    * than trained k-means — deterministic, so the DuckDB oracle can
    * rebuild it bit-for-bit; the ADC machinery (encode, LUT build,
    * probe-join, shortlist, exact re-rank) is exactly the production
    * shape, and swapping in trained centroids changes only the
    * codebook CTE. All profile/LUT/ADC arithmetic is integer
    * micro-units (g01's determinism discipline): sums commute, so both
    * engines agree regardless of aggregation order. Scale: codes are
    * built map-side in one pass; the 2048-row LUT broadcasts; ADC is a
    * broadcast-join + integer sum; only the 40-row shortlist ever pays
    * an exact cosine. */
  private def s13(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = slots.swap("s13e", vectors(s, d)
      .filter(array_max(transform($"v", x => abs(x))) > 0))
    val q = e.filter($"vec_id" === 0).select(lit(0L).as("probe_id"), $"v".as("pv"))
    val cands = e.filter($"vec_id" =!= 0)
      .select(lit(0L).as("probe_id"), $"vec_id", signCodes($"v", 8).as("codes"))
    adcSearch(cands, adcLut(queryWeights(dimProfile(e), q)), 40, e, q, 10)
      .orderBy($"rank").select($"neighbor_id".as("vec_id"), $"adc_score", $"cos_sim")
  }
  private val s13Sql =
    """WITH e AS (
         SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) > 0),
       nn AS (SELECT count(*) AS n FROM e),
       stats AS (
         SELECT i, sum(CAST(round(abs(v[i + 1]) * 1000000) AS BIGINT)) AS si
         FROM e, generate_series(0, 63) t(i) GROUP BY i),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       w AS (
         SELECT i, CAST(round((qv[i + 1] * (si / (n * 1000000.0))) * 1000000000.0) AS BIGINT) AS wi
         FROM stats, q, nn),
       lutj AS (
         SELECT sp, code, j,
           CASE WHEN (code >> j) & 1 = 1 THEN wi ELSE -wi END AS t
         FROM generate_series(0, 7) s(sp), generate_series(0, 255) c(code),
              generate_series(0, 7) jj(j), w
         WHERE w.i = sp * 8 + j),
       lut AS (SELECT sp, code, CAST(sum(t) AS BIGINT) AS wsc
               FROM lutj GROUP BY 1, 2),
       codes AS (
         SELECT vec_id, sp,
           CAST(sum(CASE WHEN v[sp * 8 + j + 1] > 0 THEN (1 << j) ELSE 0 END) AS BIGINT) AS code
         FROM e, generate_series(0, 7) s(sp), generate_series(0, 7) jj(j)
         WHERE vec_id <> 0 GROUP BY 1, 2),
       adc AS (
         SELECT vec_id, CAST(sum(wsc) AS BIGINT) AS adc
         FROM codes JOIN lut ON codes.sp = lut.sp AND codes.code = lut.code
         GROUP BY vec_id),
       short AS (SELECT vec_id, adc FROM adc ORDER BY adc DESC, vec_id LIMIT 40)
       SELECT s.vec_id, round(s.adc / 1000000000.0, 6) AS adc_score,
         round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
       FROM short s JOIN e ON e.vec_id = s.vec_id, q
       ORDER BY round(list_cosine_similarity(e.v, q.qv), 9) DESC, s.vec_id
       LIMIT 10"""

  /** s14 — IVF-PQ: the two index structures composed exactly as
    * production ANN systems ship them (FAISS's IndexIVFPQ shape) —
    * the coarse quantizer (s03's centroid cells, nprobe = 2) prunes
    * the corpus to the probed cells' members, the product-quantization
    * codes (s13's 8-byte sign codes + per-query ADC lookup tables)
    * score those members WITHOUT touching their full vectors, a
    * 20-deep shortlist pays the only exact cosines. At 100 TB the
    * scan reads |corpus|/|cells| × nprobe code rows of 8 bytes each —
    * both axes of the cost (fraction scanned, bytes per row) cut
    * independently, which is why this composition, not either index
    * alone, is the production default. Everything reuses the already-
    * oracled parts: cell assignment is s03's, codes/LUT are s13's,
    * so the composed oracle is their CTE chains joined.
    */
  private def s14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = slots.swap("s14e", vectors(s, d, $"label".as("cell"))
      .filter(array_max(transform($"v", x => abs(x))) > 0))
    // coarse quantizer: label centroids; the single probe (vec 0)
    // searches its 2 nearest cells (s03/s06's assignment)
    val q = e.filter($"vec_id" === 0).select(lit(0L).as("probe_id"), $"v".as("pv"))
    // ADC over the PROBED CELLS' members only — the IVF/PQ composition
    val cands = probeCells(e, centroids(e, "cell"), q, nprobe = 2)
      .select($"probe_id", $"vec_id", signCodes($"v", 8).as("codes"))
    adcSearch(cands, adcLut(queryWeights(dimProfile(e), q)), 20, e, q, 10, $"cell")
      .orderBy($"rank")
      .select($"neighbor_id".as("vec_id"), $"cell", $"adc_score", $"cos_sim")
  }
  private val s14Sql =
    """WITH e AS (
         SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
         WHERE list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) > 0),
       cent AS (
         SELECT label, list(cx ORDER BY p) AS cv FROM (
           SELECT label, p, avg(x) AS cx FROM (
             SELECT label, i AS p, v[i] AS x
             FROM e, unnest(generate_series(1, len(v))) AS t(i))
           GROUP BY label, p)
         GROUP BY label),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       cells AS (
         SELECT label AS cell FROM (
           SELECT c.label,
             row_number() OVER (ORDER BY
               round(list_cosine_similarity(q.qv, c.cv), 9) DESC, c.label) AS arn
           FROM cent c, q)
         WHERE arn <= 2),
       nn AS (SELECT count(*) AS n FROM e),
       stats AS (
         SELECT i, sum(CAST(round(abs(v[i + 1]) * 1000000) AS BIGINT)) AS si
         FROM e, generate_series(0, 63) t(i) GROUP BY i),
       w AS (
         SELECT i, CAST(round((qv[i + 1] * (si / (n * 1000000.0))) * 1000000000.0) AS BIGINT) AS wi
         FROM stats, q, nn),
       lutj AS (
         SELECT sp, code, j,
           CASE WHEN (code >> j) & 1 = 1 THEN wi ELSE -wi END AS t
         FROM generate_series(0, 7) s(sp), generate_series(0, 255) c(code),
              generate_series(0, 7) jj(j), w
         WHERE w.i = sp * 8 + j),
       lut AS (SELECT sp, code, CAST(sum(t) AS BIGINT) AS wsc
               FROM lutj GROUP BY 1, 2),
       members AS (
         SELECT e.* FROM e JOIN cells ON e.label = cells.cell
         WHERE vec_id <> 0),
       codes AS (
         SELECT vec_id, sp,
           CAST(sum(CASE WHEN v[sp * 8 + j + 1] > 0 THEN (1 << j) ELSE 0 END) AS BIGINT) AS code
         FROM members, generate_series(0, 7) s(sp), generate_series(0, 7) jj(j)
         GROUP BY 1, 2),
       adc AS (
         SELECT vec_id, CAST(sum(wsc) AS BIGINT) AS adc
         FROM codes JOIN lut ON codes.sp = lut.sp AND codes.code = lut.code
         GROUP BY vec_id),
       short AS (SELECT vec_id, adc FROM adc ORDER BY adc DESC, vec_id LIMIT 20)
       SELECT s.vec_id, e.label AS cell,
         round(s.adc / 1000000000.0, 6) AS adc_score,
         round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
       FROM short s JOIN e ON e.vec_id = s.vec_id, q
       ORDER BY round(list_cosine_similarity(e.v, q.qv), 9) DESC, s.vec_id
       LIMIT 10"""

  /** s15 — MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell-Goldstein):
    * the diversity-aware final stage of a retrieval stack. From the
    * top-20 cosine shortlist for the query vector, select 5 results
    * iteratively by argmax of 0.7·sim(q,d) − 0.3·max_{s∈S} sim(d,s) —
    * each pick is penalized by its similarity to what is ALREADY
    * selected, so near-duplicate hits can't crowd the result list (the
    * retrieval-time face of the near-dup problem d05/s12 solve at
    * corpus build time). Scale: the corpus pays only the shortlist
    * scan (one broadcast-query pass, TopK); the O(k·shortlist)
    * iteration runs on gate-sized cached tables — this is the
    * standard decomposition, MMR is always post-retrieval. Ties break
    * by vec_id under the round-to-9 ordering discipline (s01's), and
    * each round is persisted so round k never re-derives rounds <k.
    */
  /** PUBLIC operator: MMR selection over a shortlist DataFrame with
    * columns (vec_id, v: array<double>, simq). Returns k rows
    * (mmr_rank, vec_id, v, simq, mmr), rank order = selection order.
    * See s15 for semantics; rounds are persisted (slot-prefixed by
    * `slot`) so round r never re-derives rounds <r. */
  def mmrRerank(cand0: DataFrame, k: Int, relWeight: Double,
      divWeight: Double, slot: String = "mmr"): DataFrame = {
    // both weights are EXPLICIT literals (never 1.0 - relWeight: the
    // float subtraction 1.0 - 0.7 is not the literal 0.3 an oracle
    // writes, and the ordering discipline assumes bit-equal scores)
    //
    // ONE in-task greedy pass, not k distributed rounds: the shortlist
    // is gate-sized by construction (MMR is always post-retrieval —
    // the corpus pays only the shortlist scan upstream), and the
    // earlier per-round join/agg/limit pipeline cost 35 scheduler
    // round-trips for 0.6 s of CPU (4.6 s wall in the bench). The
    // selection arithmetic is replicated EXACTLY: cosine is the Scala
    // body of the CosineSimilarity expression's interpreted eval, the
    // argmax key is Spark's round(x, 9) (BigDecimal.valueOf +
    // HALF_UP) descending with vec_id ascending tie-break, and the
    // score is simq*relWeight - maxsim*divWeight in that literal
    // order — the s15 oracle hash-checks all of it.
    val s = cand0.sparkSession
    import s.implicits._
    cand0.select(col("vec_id").cast("long").as("vec_id"), col("v"),
        col("simq").cast("double").as("simq"))
      .as[(Long, Seq[Double], Double)]
      .repartition(1)
      .mapPartitions { it =>
        // vec_id sort makes the pass order-independent of the shuffle
        val cand = it.toArray.sortBy(_._1)
        cand.headOption.foreach { h =>
          cand.find(_._2.length != h._2.length).foreach { c =>
            throw new IllegalArgumentException(s"mmrRerank: vec_id ${h._1} has " +
              s"dimension ${h._2.length} but vec_id ${c._1} has ${c._2.length}")
          }
        }
        val vecs = cand.map(c => ArrayData.toArrayData(c._2.toArray))
        // Spark's round() passes non-finite through (BigDecimal.valueOf
        // would throw); NaN/Inf keys then order via `gt` below
        def r9(x: Double): Double =
          if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
          else java.math.BigDecimal.valueOf(x)
            .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
        // orderBy(desc) semantics: NaN sorts GREATEST (Spark and DuckDB
        // agree) — Double.compare gives exactly that total order, where
        // a bare `>` would make a NaN key lose every comparison
        def gt(a: Double, b: Double): Boolean =
          java.lang.Double.compare(a, b) > 0
        val n = cand.length
        val taken = new Array[Boolean](n)
        // running max similarity to the selected set, updated per pick
        val maxsim = Array.fill(n)(Double.NegativeInfinity)
        val out = Vector.newBuilder[(Long, Long, Seq[Double], Double, Double)]
        var r = 1
        while (r <= k && r <= n) {
          var best = -1; var bestKey = 0.0
          var i = 0
          while (i < n) {
            if (!taken(i)) {
              // round 1 ranks on the UNWEIGHTED r9(simq) — the key the
              // distributed formulation (and the s15 oracle's r1 CTE)
              // uses; the weight touches only the emitted score
              val key =
                if (r == 1) r9(cand(i)._3)
                else r9(cand(i)._3 * relWeight - maxsim(i) * divWeight)
              // vec_id-ascending tie-break is the sort order of `cand`
              if (best < 0 || gt(key, bestKey)) { best = i; bestKey = key }
            }
            i += 1
          }
          val (vid, v, simq) = cand(best)
          val mmrScore =
            if (r == 1) simq * relWeight
            else simq * relWeight - maxsim(best) * divWeight
          out += ((r.toLong, vid, v, simq, mmrScore))
          taken(best) = true
          i = 0
          while (i < n) {
            if (!taken(i)) CosineSimilarity.cosine(vecs(i), vecs(best)) match {
              // a zero norm (null) has no similarity to raise maxsim with
              case ps: Double if ps > maxsim(i) => maxsim(i) = ps
              case _ =>
            }
            i += 1
          }
          r += 1
        }
        out.result().iterator
      }
      .toDF("mmr_rank", "vec_id", "v", "simq", "mmr")
  }

  /** s16 — FILTERED ANN (pre-filter form): top-k cosine restricted to
    * vectors whose joined document row passes a metadata predicate
    * (lang = 'en'). The predicate is applied BEFORE any distance
    * computes — the lang filter pushes into the documents parquet scan
    * and the co-keyed join prunes the candidate set first, so the
    * expensive arithmetic only ever touches qualifying vectors.
    * (The alternative, post-filtering an unfiltered index's top-k,
    * under-fills k whenever the filter is selective — the classic
    * filtered-vector-search pitfall; with a pre-filter k is exact by
    * construction.) At IVF scale the same shape holds: predicate join
    * against the posting lists before ADC/cosine scoring.
    *
    * nprobe guidance when the pre-filter meets an IVF index built on
    * the UNFILTERED corpus (MEASURED, StudyBench ann_filter_study in
    * study_r9.json — recall@10 vs exact-over-survivors, 8 cells):
    * recall is governed almost entirely by nprobe, not selectivity
    * (nprobe=8 ≡ full scan here: 0.90/0.87/0.85/0.75 across
    * selectivities 1/2 → 1/100, vs 0.07-0.13 at nprobe=1), because the
    * filter empties cells the centroids still route probes into while
    * the true neighbors of a filtered query spread across cells the
    * coarse quantizer ranks low. Rule: once expected
    * survivors-per-probed-cell (|survivors|·nprobe/|cells|) approaches
    * k, IVF is no longer pruning anything useful — at survivors ≈ k·
    * |cells| switch to brute force over the survivor set (it is now
    * CHEAPER than probing: at 1/100 selectivity the full survivor scan
    * is 19 vectors). Production filtered-ANN therefore pre-filters,
    * COUNTS the survivor set (one cheap agg), and picks scan-vs-IVF
    * per query from that count. */
  private def s16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vectors(s, d)
    val q = e.filter($"vec_id" === 0).select($"v".as("qv"))
    val meta = Tables.documents(s, d)
      .filter($"lang" === "en")
      .select($"doc_id".as("vec_id"), $"lang")
    e.filter($"vec_id" =!= 0)
      .join(meta, "vec_id")
      .crossJoin(broadcast(q))
      .withColumn("cos", cosineSim($"v", $"qv"))
      .select($"vec_id", $"lang", round($"cos", 6).as("cos_sim"),
        round($"cos", 9).as("ord"))
      .orderBy($"ord".desc, $"vec_id")
      .limit(10)
      .drop($"ord")
  }
  private val s16Sql =
    """SELECT vec_id, lang, cos_sim FROM (
         SELECT e.vec_id, d.lang,
           round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim,
           round(list_cosine_similarity(e.v, q.qv), 9) AS ord
         FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id <> 0) e
         JOIN (SELECT doc_id, lang FROM documents WHERE lang = 'en') d
           ON d.doc_id = e.vec_id
         CROSS JOIN (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                     WHERE vec_id = 0) q
         ORDER BY ord DESC, e.vec_id LIMIT 10)
       ORDER BY ord DESC, vec_id"""

  private def s15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vectors(s, d)
    val q = e.filter($"vec_id" === 0).select($"v".as("qv"))
    val shortlist = e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("simq", cosineSim($"v", $"qv"))
      .orderBy(round($"simq", 9).desc, $"vec_id")
      .limit(20)
      .select($"vec_id", $"v", $"simq")
    mmrRerank(shortlist, 5, 0.7, 0.3, "s15")
      .select($"mmr_rank", $"vec_id",
        round($"simq", 6).as("sim_query"), round($"mmr", 6).as("mmr_score"))
      .orderBy($"mmr_rank")
  }
  private val s15Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       cand AS (
         SELECT vec_id, v, list_cosine_similarity(v, qv) AS simq
         FROM e, q WHERE vec_id <> 0
         ORDER BY round(list_cosine_similarity(v, qv), 9) DESC, vec_id
         LIMIT 20),
       r1 AS (SELECT CAST(1 AS BIGINT) AS mmr_rank, vec_id, v, simq,
                0.7 * simq AS mmr
              FROM cand ORDER BY round(simq, 9) DESC, vec_id LIMIT 1),
       r2 AS (SELECT CAST(2 AS BIGINT) AS mmr_rank, c.vec_id, c.v, c.simq,
                0.7 * c.simq - 0.3 * max(list_cosine_similarity(c.v, s.v)) AS mmr
              FROM cand c, r1 s
              WHERE c.vec_id NOT IN (SELECT vec_id FROM r1)
              GROUP BY c.vec_id, c.v, c.simq
              ORDER BY round(0.7 * c.simq
                - 0.3 * max(list_cosine_similarity(c.v, s.v)), 9) DESC,
                c.vec_id LIMIT 1),
       s2 AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
       r3 AS (SELECT CAST(3 AS BIGINT) AS mmr_rank, c.vec_id, c.v, c.simq,
                0.7 * c.simq - 0.3 * max(list_cosine_similarity(c.v, s.v)) AS mmr
              FROM cand c, s2 s
              WHERE c.vec_id NOT IN (SELECT vec_id FROM s2)
              GROUP BY c.vec_id, c.v, c.simq
              ORDER BY round(0.7 * c.simq
                - 0.3 * max(list_cosine_similarity(c.v, s.v)), 9) DESC,
                c.vec_id LIMIT 1),
       s3 AS (SELECT * FROM s2 UNION ALL SELECT * FROM r3),
       r4 AS (SELECT CAST(4 AS BIGINT) AS mmr_rank, c.vec_id, c.v, c.simq,
                0.7 * c.simq - 0.3 * max(list_cosine_similarity(c.v, s.v)) AS mmr
              FROM cand c, s3 s
              WHERE c.vec_id NOT IN (SELECT vec_id FROM s3)
              GROUP BY c.vec_id, c.v, c.simq
              ORDER BY round(0.7 * c.simq
                - 0.3 * max(list_cosine_similarity(c.v, s.v)), 9) DESC,
                c.vec_id LIMIT 1),
       s4 AS (SELECT * FROM s3 UNION ALL SELECT * FROM r4),
       r5 AS (SELECT CAST(5 AS BIGINT) AS mmr_rank, c.vec_id, c.v, c.simq,
                0.7 * c.simq - 0.3 * max(list_cosine_similarity(c.v, s.v)) AS mmr
              FROM cand c, s4 s
              WHERE c.vec_id NOT IN (SELECT vec_id FROM s4)
              GROUP BY c.vec_id, c.v, c.simq
              ORDER BY round(0.7 * c.simq
                - 0.3 * max(list_cosine_similarity(c.v, s.v)), 9) DESC,
                c.vec_id LIMIT 1)
       SELECT mmr_rank, vec_id, round(simq, 6) AS sim_query,
         round(mmr, 6) AS mmr_score
       FROM (SELECT * FROM s4 UNION ALL SELECT * FROM r5)
       ORDER BY mmr_rank"""

  // ---- s17: the vector index as a DURABLE ARTIFACT -------------------

  /** Build (or REBUILD) an IVF index over `corpus` as a versioned
    * table at `indexPath` — the production ANN posture: train once,
    * serve many, version the index WITH the corpus instead of
    * re-deriving centroids per query (what s03/s06 do inline).
    *
    * Storage layout — one [[graft.sources.VersionedTable]] keyed by
    * `(part, id)`, three row kinds in one fixed schema
    * `(part string, id long, cell long, vec array<double>)`:
    *   - `part='param'`: id 0 → `cell` holds nlist (cell count),
    *     id 1 → `cell` holds the vector dimension;
    *   - `part='centroid'`: one row per cell, `vec` = the trained
    *     coarse-quantizer centroid (id = cell);
    *   - `part='code'`: one row per corpus vector — `cell` = its
    *     inverted-list assignment, `vec` = the stored vector (the
    *     self-contained serving copy; a PQ deployment would store the
    *     code bytes instead — s13/s14 hold that arithmetic).
    *
    * Rebuild after a corpus change is a key-scoped MERGE committing a
    * NEW version: vanished vec_ids are tombstoned, changed cells
    * replaced — readers pinned to the old version keep serving it
    * (time travel = index rollback), and `history()` audits retrains.
    * STALENESS is therefore explicit: an index serves the corpus
    * snapshot it was built from, and the commit version SAYS which
    * build that was; queries needing fresher data rebuild or fall back
    * to brute force (s01). Scale: centroids are |cells| tiny rows; the
    * codes merge shuffles once on (part, id) — the same bucket math as
    * any other table write. */
  def buildIvfIndex(spark: SparkSession, corpus: DataFrame,
      indexPath: String): Long = {
    import spark.implicits._
    // corpus contract: (vec_id long, label long-castable, v array<double>)
    val cent = centroids(corpus, "label")
    val centRows = cent.select(lit("centroid").as("part"),
      $"label".cast("long").as("id"), $"label".cast("long").as("cell"),
      $"cv".cast("array<double>").as("vec"))
    val codeRows = corpus.select(lit("code").as("part"),
      $"vec_id".cast("long").as("id"), $"label".cast("long").as("cell"),
      $"v".cast("array<double>").as("vec"))
    val nlist = cent.count()
    val dim = corpus.select(size($"v")).as[Int].head().toLong
    val n = corpus.count()
    val paramRows = Seq(("param", 0L, nlist), ("param", 1L, dim),
      ("param", 2L, n))
      .toDF("part", "id", "cell")
      .withColumn("vec", lit(null).cast("array<double>"))
    // PQ half of the artifact (when the dimension tiles into 8-dim
    // subspaces — s13's shape): `pqcode` rows hold each vector's
    // per-subspace SIGN CODES (8 bits each, stored as small exact
    // integers in the vec payload), `pqstat` rows the per-dim
    // magnitude profile S_i in integer micro-units (cell column) that
    // the query-side ADC lookup tables are built from. Stored AT BUILD
    // TIME so serving (s18) and any oracle read the same profile — a
    // recompute could drift on float summation order.
    val nsp = (dim / 8L).toInt
    val pqParts =
      if (dim % 8 != 0) Seq.empty[DataFrame]
      else Seq(
        corpus.select(lit("pqcode").as("part"),
          $"vec_id".cast("long").as("id"), $"label".cast("long").as("cell"),
          signCodes($"v", nsp).cast("array<double>").as("vec")),
        dimProfile(corpus)
          .select(lit("pqstat").as("part"), $"i".cast("long").as("id"),
            $"si".as("cell"), lit(null).cast("array<double>").as("vec")))
    val rows = (Seq(centRows, codeRows, paramRows) ++ pqParts)
      .reduce(_ unionByName _)
    graft.sources.VersionedTable.merge(spark, indexPath, rows,
      Seq("part", "id"), numBuckets = 16)
  }

  /** Tombstone-aware refresh: see [[buildIvfIndex]] for the layout;
    * this removes index entries whose vec_ids vanished from the corpus
    * (a delete-aware retrain). Returns the committed version. */
  def refreshIvfIndex(spark: SparkSession, corpus: DataFrame,
      indexPath: String): Long = {
    import spark.implicits._
    val stored = graft.sources.VersionedTable.read(spark, indexPath)
    val gone = stored.filter($"part".isin("code", "pqcode"))
      .join(corpus.select($"vec_id".cast("long").as("id")), Seq("id"),
        "left_anti")
      .select($"part", $"id", $"cell", $"vec")
      .withColumn("_del", lit(true))
    buildIvfIndex(spark, corpus, indexPath) // upsert current state
    if (gone.isEmpty) graft.sources.VersionedTable.snapshot(spark, indexPath).version
    else graft.sources.VersionedTable.merge(spark, indexPath,
      gone, Seq("part", "id"), deleteCol = Some("_del"), numBuckets = 16)
  }

  /** Serve an ANN lookup FROM THE STORED INDEX — no corpus access, no
    * retraining: assign each probe to its `nprobe` nearest STORED
    * centroids, scan only those cells' STORED code rows, rank through
    * TopKPerKey (bounded partial heaps). Centroids and probe batch are
    * broadcast; the code scan is the only distributed read. */
  def ivfIndexSearch(spark: SparkSession, indexPath: String,
      probes: DataFrame, k: Int, nprobe: Int): DataFrame = {
    import spark.implicits._
    val idx = graft.sources.VersionedTable.read(spark, indexPath)
    val cent = idx.filter($"part" === "centroid")
      .select($"cell", $"vec".as("cv"))
    val codes = idx.filter($"part" === "code")
      .select($"id".as("vec_id"), $"cell", $"vec".as("v"))
    rankTopK(probeCells(codes, cent, probes, nprobe)
      .withColumn("cos", cosineSim($"v", $"pv")), k)
  }

  /** The stored IVF index of the corpus at `d`, a derived artifact shared
    * by the s17 gate and its fixture dump: both read the SAME stored rows,
    * so the oracle recomputes the search from the artifact, never from a
    * second training run (float summation order could differ between
    * runs — the artifact pins it). */
  private[graft] def ensureIvfIndex(s: SparkSession, d: String): String =
    graft.util.Scratch.derived(s, "ivf_index", d,
        Seq(Tables.path(d, "embeddings"))) { out =>
      buildIvfIndex(s, Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v")), out)
    }

  /** The stored index rows, for the fixture dump (Verify) — the m32
    * discipline: the oracle recomputes the SEARCH from the ARTIFACT. */
  def ivfIndexExpected(s: SparkSession, d: String): DataFrame =
    graft.sources.VersionedTable.read(s, ensureIvfIndex(s, d))

  /** s17 — ANN served from the PERSISTED index: probes are the stored
    * code rows with id < 10 (so probe vectors come from the artifact
    * too), searched with nprobe=2 / k=3 — the s06 shape, but every
    * centroid and candidate read from the versioned table. The oracle
    * replays the identical search in DuckDB over the dumped index rows. */
  private def s17(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val path = ensureIvfIndex(s, d)
    val probes = graft.sources.VersionedTable.read(s, path)
      .filter($"part" === "code" && $"id" < 10)
      .select($"id".as("probe_id"), $"vec".as("pv"))
    ivfIndexSearch(s, path, probes, k = 3, nprobe = 2)
      .orderBy($"probe_id", $"rank")
  }
  private val s17Sql =
    """WITH idx AS (SELECT part, id, cell, vec::DOUBLE[] AS vec
           FROM read_parquet('__FIXTURES__/ivf_index/*.parquet')),
       cent AS (SELECT cell, vec AS cv FROM idx WHERE part = 'centroid'),
       codes AS (SELECT id AS vec_id, cell, vec AS v FROM idx WHERE part = 'code'),
       probes AS (SELECT vec_id AS probe_id, v AS pv FROM codes WHERE vec_id < 10),
       assign AS (
         SELECT probe_id, pv, cell FROM (
           SELECT p.probe_id, p.pv, c.cell,
             row_number() OVER (PARTITION BY p.probe_id
               ORDER BY round(list_cosine_similarity(p.pv, c.cv), 9) DESC, c.cell) AS arn
           FROM probes p CROSS JOIN cent c)
         WHERE arn <= 2)
       SELECT probe_id, neighbor_id, rank, cos_sim FROM (
         SELECT a.probe_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.probe_id
             ORDER BY round(list_cosine_similarity(e.v, a.pv), 9) DESC, e.vec_id) AS rank,
           round(list_cosine_similarity(e.v, a.pv), 6) AS cos_sim
         FROM codes e JOIN assign a ON e.cell = a.cell AND e.vec_id <> a.probe_id)
       WHERE rank <= 3 ORDER BY probe_id, rank"""

  /** s18 — IVF-PQ served from the PERSISTED index (the FAISS
    * IndexIVFPQ posture as a durable artifact, composing s17's stored
    * coarse quantizer with s13's PQ arithmetic — but every input read
    * from the versioned table): probes assign to nprobe=2 stored
    * centroids; per-probe ADC lookup tables build from the STORED
    * per-dim magnitude profile (`pqstat`, integer micro-units — no
    * recompute, no float-order drift); the probed cells' STORED 8-byte
    * sign codes (`pqcode`) score candidates without touching full
    * vectors; a 20-deep shortlist pays the only exact cosines (from
    * the stored `code` vectors). At 100 TB the serving scan reads
    * |corpus|/|cells| x nprobe rows of 8 CODE BYTES each — fraction
    * scanned and bytes-per-row cut independently, and the index is an
    * artifact: train once, version with the corpus, serve many. */
  private def s18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = graft.sources.VersionedTable.read(s, ensureIvfIndex(s, d))
    val cent = idx.filter($"part" === "centroid")
      .select($"cell", $"vec".as("cv"))
    val codes = idx.filter($"part" === "code")
      .select($"id".as("vec_id"), $"vec".as("v"))
    val pq = idx.filter($"part" === "pqcode")
      .select($"id".as("vec_id"), $"cell", $"vec".as("codes"))
    // the STORED profile (pqstat) and corpus size (param 2)
    val profile = idx.filter($"part" === "pqstat")
      .select($"id".cast("int").as("i"), $"cell".as("si"))
      .crossJoin(broadcast(idx.filter($"part" === "param" && $"id" === 2)
        .select($"cell".as("n"))))
    val probes = probeSet(codes)
    adcSearch(probeCells(pq, cent, probes, nprobe = 2)
        .select($"probe_id", $"vec_id", $"codes"),
      adcLut(queryWeights(profile, probes)), 20, codes, probes, 3)
      .select($"probe_id", $"neighbor_id", $"rank", $"adc_score", $"cos_sim")
      .orderBy($"probe_id", $"rank")
  }
  private val s18Sql =
    """WITH idx AS (SELECT part, id, cell, vec::DOUBLE[] AS vec
           FROM read_parquet('__FIXTURES__/ivf_index/*.parquet')),
       cent AS (SELECT cell, vec AS cv FROM idx WHERE part = 'centroid'),
       codes AS (SELECT id AS vec_id, vec AS v FROM idx WHERE part = 'code'),
       pq AS (SELECT id AS vec_id, cell, vec AS pcodes FROM idx WHERE part = 'pqcode'),
       st AS (SELECT id AS i, cell AS si FROM idx WHERE part = 'pqstat'),
       nn AS (SELECT cell AS n FROM idx WHERE part = 'param' AND id = 2),
       probes AS (SELECT vec_id AS probe_id, v AS pv FROM codes WHERE vec_id < 10),
       assign AS (
         SELECT probe_id, cell FROM (
           SELECT p.probe_id, c.cell,
             row_number() OVER (PARTITION BY p.probe_id
               ORDER BY round(list_cosine_similarity(p.pv, c.cv), 9) DESC, c.cell) AS arn
           FROM probes p CROSS JOIN cent c)
         WHERE arn <= 2),
       w AS (
         SELECT p.probe_id, st.i,
           CAST(round((p.pv[st.i + 1] * (st.si / (n * 1000000.0))) * 1000000000.0) AS BIGINT) AS wi
         FROM probes p, st, nn),
       lut AS (
         SELECT probe_id, sp, code,
           CAST(sum(CASE WHEN (code >> j) & 1 = 1 THEN wi ELSE -wi END) AS BIGINT) AS wsc
         FROM generate_series(0, 7) s(sp), generate_series(0, 255) c(code),
              generate_series(0, 7) jj(j), w
         WHERE w.i = sp * 8 + j
         GROUP BY 1, 2, 3),
       adc AS (
         SELECT a.probe_id, pq.vec_id, CAST(sum(l.wsc) AS BIGINT) AS adc
         FROM pq
         JOIN assign a ON pq.cell = a.cell AND pq.vec_id <> a.probe_id
         CROSS JOIN generate_series(0, 7) s(sp)
         JOIN lut l ON l.probe_id = a.probe_id AND l.sp = s.sp
                   AND l.code = CAST(pq.pcodes[s.sp + 1] AS BIGINT)
         GROUP BY 1, 2),
       short AS (
         SELECT probe_id, vec_id, adc FROM (
           SELECT probe_id, vec_id, adc,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY adc DESC, vec_id) AS srn
           FROM adc)
         WHERE srn <= 20)
       SELECT probe_id, neighbor_id, rank, adc_score, cos_sim FROM (
         SELECT sh.probe_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY sh.probe_id
             ORDER BY round(list_cosine_similarity(e.v, p.pv), 9) DESC, e.vec_id) AS rank,
           round(sh.adc / 1000000000.0, 6) AS adc_score,
           round(list_cosine_similarity(e.v, p.pv), 6) AS cos_sim
         FROM short sh
         JOIN codes e ON e.vec_id = sh.vec_id
         JOIN probes p ON p.probe_id = sh.probe_id)
       WHERE rank <= 3 ORDER BY probe_id, rank"""

  val queries: Map[String, QueryFn] = Map(
    "s18_stored_ivfpq" -> s18 _,
    "s17_stored_index" -> s17 _,
    "s16_filtered_ann" -> s16 _,
    "s15_mmr_rerank" -> s15 _,
    "s14_ivfpq" -> s14 _,
    "s13_pq_adc" -> s13 _,
    "s11_ranking_metrics" -> s11 _,
    "s12_semantic_dedup" -> s12 _,
    "s10_ann_recall" -> s10 _,
    "s09_range_search" -> s09 _,
    "s08_lsh_ann" -> s08 _,
    "s01_cosine_topk" -> s01 _,
    "s07_kmeans" -> s07 _,
    "s02_batch_knn" -> s02 _,
    "s03_ivf_ann" -> s03 _,
    "s04_cosine_topk_native" -> s04 _,
    "s05_quantized_cosine" -> s05 _,
    "s06_ivf_nprobe" -> s06 _,
  )

  val oracle: Map[String, String] = Map(
    "s18_stored_ivfpq" -> s18Sql,
    "s17_stored_index" -> s17Sql,
    "s16_filtered_ann" -> s16Sql,
    "s15_mmr_rerank" -> s15Sql,
    "s14_ivfpq" -> s14Sql,
    "s13_pq_adc" -> s13Sql,
    "s11_ranking_metrics" -> s11Sql,
    "s12_semantic_dedup" -> s12Sql,
    "s10_ann_recall" -> s10Sql,
    "s09_range_search" -> s09Sql,
    "s08_lsh_ann" -> s08Sql,
    "s01_cosine_topk" -> s01Sql,
    "s07_kmeans" -> s07Sql,
    "s02_batch_knn" -> s02Sql,
    "s03_ivf_ann" -> s03Sql,
    "s04_cosine_topk_native" -> s01Sql,
    "s05_quantized_cosine" -> s05Sql,
    "s06_ivf_nprobe" -> s06Sql,
  )
}
