package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** SQL ENTRY POINT for the operator library (round-10 verdict item 8):
  * the engine's query capabilities are literally queryable — a user
  * types SQL, not DataFrame code.
  *
  * `open(spark, sfDir)` is the one-call session setup a notebook user
  * would run: every test table becomes a temp view under its TESTDATA
  * name, and the library's native Catalyst expressions register as SQL
  * functions (`cosine_sim`, `nfc_normalize` — real codegen'd
  * Expressions, not UDFs, so the SQL path plans identically to the
  * Column-API path). Operator WRAPPERS whose output is a DataFrame
  * (Dedup/Similarity/TextAnalysis) register as temp views of their
  * results through `openView`, by the query that reads them, and
  * compose with arbitrary downstream SQL.
  *
  * The gates run EXISTING oracle-green semantics through `spark.sql`
  * end-to-end, so one hash certifies that the SQL path and the
  * DataFrame path agree with each other and with DuckDB:
  *   - x01 = q14's contains-theta join, same SQL text on both engines;
  *   - x02 = s01's exact cosine top-k through the registered
  *     `cosine_sim` function;
  *   - x03 = the exact-dedup operator registered as a view, aggregated
  *     by plain SQL on top.
  *
  * Scale: table views are lazy relations over the parquet scans —
  * predicate pushdown/pruning/AQE apply exactly as in the DataFrame
  * path (same logical plans), so nothing here adds a byte of work at
  * 100 TB; an operator view costs what its operator costs, and only
  * for a session that names it.
  */
object SqlSurface extends QueryModule {

  /** Names every table under `sfDir` as a temp view and registers the
    * library's SQL functions. The table views are LAZY relations over
    * the parquet scans: open() runs no query, and its only jobs are
    * Spark's schema inference, one footer read per table. It builds no
    * operator view (`openView`).
    *
    * MEMOIZED per (session, dir): a notebook user calls open() once,
    * so the library should too. The memo holds the session's CURRENT
    * dir: switching dirs re-registers (the views must track the tables
    * they read), and a weak key keeps a dropped session unpinned.
    * Re-registering a table view dropped from outside needs a dir
    * switch or `reopen`. */
  private val openedDir =
    new java.util.WeakHashMap[SparkSession, String]()
  def open(s: SparkSession, d: String): Unit = {
    openedDir.synchronized {
      if (openedDir.get(s) == d) return
    }
    // memo AFTER a successful registration: a partial reopen (transient
    // FS error halfway through the tables) must leave the next open()
    // free to retry, not poison the session with missing views
    reopen(s, d)
    openedDir.synchronized { openedDir.put(s, d) }
  }

  /** The un-memoized registration body (forces re-registration). It
    * also drops the operator views, which name the previous dir's
    * tables. */
  def reopen(s: SparkSession, d: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      Tables.table(s, d, t).createOrReplaceTempView(t)
    }
    graft.functions.CosineSimilarity.register(s)
    graft.functions.NfcNormalize.register(s)
    operatorViews.keys.foreach(s.catalog.dropTempView)
  }

  /** The PUBLIC operator wrappers a SQL user reads as views, each
    * certified by an x-gate: the name and the result it is a view of,
    * over the tables at a dir. */
  private val operatorViews: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LSH-verified near-duplicate pairs over the documents corpus —
    // the dir-aware path reads the per-dir shingle artifact the
    // d-family already materializes instead of re-tokenizing (same
    // operator, same result; Dedup.nearDupPairsFor scaladoc) (x04)
    "near_dup_pairs" -> ((s, d) =>
      graft.ext.Dedup.nearDupPairsFor(s, d, 0.6, slot = "sqlview")),
    // exact cosine top-10 against the vec_id=0 query vector (x09)
    "cosine_topk" -> { (s, d) =>
      val emb = vectors(s, d)
      graft.ext.Similarity.cosineTopK(emb.filter(col("vec_id") =!= 0),
        col("vec_id"), col("v"),
        emb.filter(col("vec_id") === 0).select(col("v").as("qv")), 10)
    },
    // batched exact kNN: 5 neighbors for each of the first 5 vectors (x08)
    "knn_neighbors" -> { (s, d) =>
      val emb = vectors(s, d)
      graft.ext.Similarity.knn(emb, col("vec_id"), col("v"),
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("v").as("pv")), 5)
    },
    // per-document language prediction + quality score (x07)
    "doc_signals" -> ((s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        graft.ext.TextAnalysis.languageOf(col("text")).as("predicted"),
        graft.ext.TextAnalysis.qualityScore(col("text")).as("quality"))))

  private def vectors(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Opens `d` and registers the operator view `name` over it unless
    * the session already has it: `near_dup_pairs`, `cosine_topk`,
    * `knn_neighbors` or `doc_signals` (any other name throws). `open`
    * registers none of them. Only the query that reads a view builds
    * it: the wrappers' PLAN CONSTRUCTION is not free (near_dup_pairs
    * runs `PersistSlots` materializations, the vector views
    * driver-side scalars), so a session pays for the views it names
    * and no other. A registered view always reads the session's
    * current dir, since a dir switch drops the views (`reopen`), and a
    * view dropped from outside is rebuilt on the next call. */
  def openView(s: SparkSession, d: String, name: String): Unit = {
    open(s, d)
    if (!s.catalog.tableExists(name))
      operatorViews(name)(s, d).createOrReplaceTempView(name)
  }

  /** x01 — q14's contains-theta join through `spark.sql`: the SAME SQL
    * text runs on Spark and DuckDB (both define `contains`), and the
    * result hash must match the DataFrame-API q14's. */
  private val x01Text =
    """SELECT p_brand, count(*) AS n_matches, sum(l_quantity) AS sum_qty
       FROM lineitem JOIN part ON l_partkey = p_partkey
        AND contains(lower(p_name), lower(l_returnflag))
       GROUP BY p_brand ORDER BY p_brand"""
  private def x01(s: SparkSession, d: String): DataFrame = {
    open(s, d)
    s.sql(x01Text)
  }

  /** x02 — s01's exact cosine top-k, but in SQL through the registered
    * native `cosine_sim` function (WholeStageCodegen, no UDF). */
  private def x02(s: SparkSession, d: String): DataFrame = {
    open(s, d)
    s.sql(
      """SELECT vec_id, round(cosine_sim(v, qv), 6) AS cos_sim
         FROM (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
               FROM embeddings WHERE vec_id <> 0) e
         CROSS JOIN (SELECT CAST(embedding AS ARRAY<DOUBLE>) AS qv
                     FROM embeddings WHERE vec_id = 0) q
         ORDER BY round(cosine_sim(v, qv), 9) DESC, vec_id
         LIMIT 10""")
  }
  private val x02Sql =
    """SELECT vec_id,
         round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
       FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> 0) e
       CROSS JOIN (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
       ORDER BY round(list_cosine_similarity(e.v, q.qv), 9) DESC, vec_id
       LIMIT 10"""

  /** x03 — an operator wrapper as a SQL view: `Dedup.exactDedupGroups`
    * registers its result, plain SQL aggregates the group-size
    * histogram on top. The oracle recomputes groups from the text
    * itself (no sha2) — identical groups unless the hash collides. */
  private def x03(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    open(s, d)
    graft.ext.Dedup.exactDedupGroups(Tables.documents(s, d), $"doc_id",
        regexp_replace($"text", "( dup)+$", ""))
      .createOrReplaceTempView("dedup_exact_groups")
    s.sql(
      """SELECT group_size, count(*) AS n_groups
         FROM dedup_exact_groups
         GROUP BY group_size ORDER BY group_size""")
  }
  private val x03Sql =
    """SELECT group_size, count(*) AS n_groups FROM (
         SELECT count(*) AS group_size
         FROM (SELECT doc_id, regexp_replace(text, '( dup)+$', '') AS canon
               FROM documents)
         GROUP BY canon)
       GROUP BY group_size ORDER BY group_size"""

  /** x04 — the near-dup OPERATOR as a SQL view: plain SQL aggregates
    * per-doc duplicate fan-out on top of `near_dup_pairs`. The oracle
    * wraps the d06 chain (same LSH banding + exact-Jaccard replay),
    * so the hash certifies the VIEW path end-to-end. */
  private def x04(s: SparkSession, d: String): DataFrame = {
    openView(s, d, "near_dup_pairs")
    s.sql(
      """SELECT doc_a, count(*) AS n_pairs, max(jaccard) AS max_j
         FROM near_dup_pairs GROUP BY doc_a ORDER BY doc_a""")
  }
  private lazy val x04Sql =
    s"""SELECT doc_a, count(*) AS n_pairs, max(jaccard) AS max_j
       FROM (${graft.ext.Dedup.d06Sql})
       GROUP BY doc_a ORDER BY doc_a"""

  /** x05 — the window family through `spark.sql`: the SAME text (a
    * named WINDOW clause with lead/lag over a composite order) runs on
    * both engines. */
  private val x05Text =
    """SELECT o_custkey, o_orderkey,
         lead(o_orderkey, 1) OVER w AS next_order,
         lag(o_orderkey, 1) OVER w AS prev_order
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       ORDER BY o_custkey, o_orderkey"""
  private def x05(s: SparkSession, d: String): DataFrame = {
    open(s, d)
    s.sql(x05Text)
  }

  /** x06 — a VersionedTable READ through `spark.sql`: two real merges
    * (create, then upsert-with-tombstones) build the table; its
    * resolved snapshot registers as a view and plain SQL aggregates
    * it. The oracle recomputes the post-merge state relationally, so
    * the hash certifies merge arithmetic AND the SQL read path. */
  private def x06(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    open(s, d)
    val table = graft.util.Scratch.fresh("x06_vtab")
    val base = Tables.orders(s, d).select($"o_orderkey".as("k"),
      round($"o_totalprice" * 100).cast("long").as("cents"))
    graft.sources.VersionedTable.merge(s, table, base, Seq("k"), numBuckets = 8)
    val upd = base.filter($"k" % 3 === 0 || $"k" % 7 === 0)
      .select($"k",
        when($"k" % 3 === 0, $"cents" * 2).otherwise($"cents").as("cents"),
        ($"k" % 7 === 0).as("del"))
    graft.sources.VersionedTable.merge(s, table, upd, Seq("k"), Some("del"),
      numBuckets = 8)
    graft.sources.VersionedTable.read(s, table)
      .createOrReplaceTempView("vt_orders")
    s.sql(
      """SELECT k % 10 AS bucket, count(*) AS n_rows, sum(cents) AS sum_cents
         FROM vt_orders GROUP BY k % 10 ORDER BY bucket""")
  }
  private val x06Sql =
    """SELECT k % 10 AS bucket, count(*) AS n_rows,
         CAST(sum(cents) AS BIGINT) AS sum_cents
       FROM (
         SELECT o_orderkey AS k,
           CASE WHEN o_orderkey % 3 = 0 THEN 2 * cents ELSE cents END AS cents
         FROM (SELECT o_orderkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders)
         WHERE o_orderkey % 7 <> 0)
       GROUP BY 1 ORDER BY bucket"""

  /** x07 — text-analysis signals as a SQL view: `doc_signals` carries
    * languageOf + qualityScore per document; plain SQL rolls them up.
    * The per-row quality is integerized (×1e6 on the already-rounded
    * score) before summing so the aggregate is exact on both engines. */
  private def x07(s: SparkSession, d: String): DataFrame = {
    openView(s, d, "doc_signals")
    s.sql(
      """SELECT predicted, count(*) AS n_docs,
           sum(CAST(round(quality * 1000000, 0) AS BIGINT)) AS sum_q6
         FROM doc_signals GROUP BY predicted ORDER BY predicted""")
  }
  private lazy val x07Sql =
    s"""SELECT predicted, count(*) AS n_docs,
         CAST(sum(CAST(round(quality * 1000000, 0) AS BIGINT)) AS BIGINT) AS sum_q6
       FROM (SELECT ${graft.ext.TextAnalysis.predictedCaseSql} AS predicted,
               ${graft.ext.TextAnalysis.qualityFromListSql} AS quality
             FROM (SELECT text,
                     list_filter(string_split(text, ' '), x -> x <> '') AS l
                   FROM documents))
       GROUP BY predicted ORDER BY predicted"""

  /** x08 — batched exact kNN as a SQL view: `knn_neighbors` holds 5
    * ranked neighbors per probe (built through the TopKPerKey
    * operator); SQL keeps the top 2. */
  private def x08(s: SparkSession, d: String): DataFrame = {
    openView(s, d, "knn_neighbors")
    s.sql(
      """SELECT probe_id, neighbor_id, rank, cos_sim FROM knn_neighbors
         WHERE rank <= 2 ORDER BY probe_id, rank""")
  }
  private val x08Sql =
    """SELECT probe_id, neighbor_id, rank, cos_sim FROM (
         SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY p.vec_id
             ORDER BY round(list_cosine_similarity(e.v, p.v), 9) DESC, e.vec_id) AS rank,
           round(list_cosine_similarity(e.v, p.v), 6) AS cos_sim
         FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e
         JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5) p
           ON e.vec_id <> p.vec_id)
       WHERE rank <= 2 ORDER BY probe_id, rank"""

  /** x09 — exact cosine top-k as a SQL view: `cosine_topk` is the
    * operator's 10-row result; SQL re-orders it by id. */
  private def x09(s: SparkSession, d: String): DataFrame = {
    openView(s, d, "cosine_topk")
    s.sql("SELECT vec_id, cos_sim FROM cosine_topk ORDER BY vec_id")
  }
  private val x09Sql =
    """SELECT vec_id, cos_sim FROM (
         SELECT vec_id,
           round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
         FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> 0) e
         CROSS JOIN (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
         ORDER BY round(list_cosine_similarity(e.v, q.qv), 9) DESC, vec_id
         LIMIT 10)
       ORDER BY vec_id"""

  /** x10 — the versioned table as a FIRST-CLASS SQL data source:
    * `CREATE TABLE … USING graft` (GraftTableProvider, registered via
    * the DataSourceRegister service file) binds the snapshot into the
    * catalog with no imports, and `versionAsOf` gives DDL-level time
    * travel. Two merges build head state; SQL reads BOTH the head and
    * version 0 through `USING graft` tables and aggregates — the
    * oracle recomputes each state relationally, certifying the
    * provider plans the same FileIndex read as the programmatic
    * surface. */
  private def x10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    open(s, d)
    val table = graft.util.Scratch.fresh("x10_graft")
    val base = Tables.customer(s, d).select($"c_custkey".as("k"),
      $"c_nationkey".as("nat"),
      round($"c_acctbal" * 100).cast("long").as("bal"))
    graft.sources.VersionedTable.merge(s, table, base, Seq("k"), numBuckets = 8)
    val upd = base.filter($"k" % 5 === 0)
      .select($"k", $"nat", ($"bal" * 3).as("bal"), ($"k" % 10 === 0).as("del"))
    graft.sources.VersionedTable.merge(s, table, upd, Seq("k"), Some("del"),
      numBuckets = 8)
    s.sql("DROP TABLE IF EXISTS x10_head")
    s.sql("DROP TABLE IF EXISTS x10_v0")
    s.sql(s"CREATE TABLE x10_head USING graft OPTIONS (path '$table')")
    s.sql(s"CREATE TABLE x10_v0 USING graft " +
      s"OPTIONS (path '$table', versionAsOf '0')")
    s.sql(
      """SELECT 'head' AS snap, nat, count(*) AS n_cust, sum(bal) AS sum_bal
         FROM x10_head GROUP BY nat
         UNION ALL
         SELECT 'v0' AS snap, nat, count(*) AS n_cust, sum(bal) AS sum_bal
         FROM x10_v0 GROUP BY nat
         ORDER BY snap, nat""")
  }
  private val x10Sql =
    """WITH base AS (
         SELECT c_custkey AS k, c_nationkey AS nat,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal
         FROM customer),
       head AS (
         SELECT k, nat, CASE WHEN k % 5 = 0 THEN 3 * bal ELSE bal END AS bal
         FROM base WHERE k % 10 <> 0)
       SELECT * FROM (
         SELECT 'head' AS snap, nat, count(*) AS n_cust,
           CAST(sum(bal) AS BIGINT) AS sum_bal
         FROM head GROUP BY nat
         UNION ALL
         SELECT 'v0' AS snap, nat, count(*) AS n_cust,
           CAST(sum(bal) AS BIGINT) AS sum_bal
         FROM base GROUP BY nat)
       ORDER BY snap, nat"""

  /** x15 — the INSERT-parity DECISION, pinned under the gate: a bare
    * `INSERT INTO` on a graft table is REFUSED at analysis (the
    * alternative — routing it through the generic file insert — would
    * write parquet no manifest references, an invisible write; and
    * silently mapping INSERT onto keyed MERGE would make duplicate-key
    * inserts UPSERT without the user ever asking for merge semantics).
    * The gate certifies the whole posture, not just the happy path:
    * the refusal fires, names the honest alternative (`write.format
    * ("graft").mode("append")` = key-scoped MERGE), leaves ZERO bytes
    * behind, and the named alternative actually lands the same rows. */
  private def x15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val table = graft.util.Scratch.fresh("x15_graft")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format("graft").option("keyCols", "k")
      .option("numBuckets", 2).mode("append").save(table)
    s.sql("DROP TABLE IF EXISTS x15_ins")
    s.sql(s"CREATE TABLE x15_ins USING graft OPTIONS (path '$table')")
    def rootFiles = new java.io.File(table).list().toSet
    val before = rootFiles
    val err =
      try { s.sql("INSERT INTO x15_ins VALUES (99, 'x')"); None }
      catch { case e: Throwable =>
        Some(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(5)
          .map(t => String.valueOf(t.getMessage)).mkString(" | "))
      }
    // the honest alternative lands the very row the INSERT refused
    Seq((99L, "x")).toDF("k", "v")
      .write.format("graft").option("keyCols", "k")
      .mode("append").save(table)
    val visible = s.sql("SELECT count(*) FROM x15_ins WHERE k = 99")
      .as[Long].head() // snapshot relation is PINNED: must still be 0
    val headHas = graft.sources.VersionedTable.read(s, table)
      .filter($"k" === 99L).count()
    Seq(
      ("insert_refused", err.isDefined),
      ("refusal_names_merge", err.exists(_.contains("key-scoped"))),
      ("no_invisible_write", before.subsetOf(rootFiles)
        && !rootFiles.exists(_.startsWith("part-"))),
      ("catalog_snapshot_pinned", visible == 0L),
      ("merge_alternative_lands", headHas == 1L)
    ).toDF("probe", "ok").orderBy("probe")
  }
  private val x15Sql =
    """SELECT * FROM (VALUES
         ('catalog_snapshot_pinned', true),
         ('insert_refused', true),
         ('merge_alternative_lands', true),
         ('no_invisible_write', true),
         ('refusal_names_merge', true)) AS t(probe, ok)
       ORDER BY probe"""

  override def queries: Map[String, QueryFn] = Map(
    "x15_sql_insert_guard" -> x15 _,
    "x10_sql_using_graft" -> x10 _,
    "x01_sql_theta_join" -> x01 _,
    "x02_sql_cosine_fn" -> x02 _,
    "x03_sql_operator_view" -> x03 _,
    "x04_sql_neardup_view" -> x04 _,
    "x05_sql_window" -> x05 _,
    "x06_sql_versioned_read" -> x06 _,
    "x07_sql_text_signals" -> x07 _,
    "x08_sql_knn_view" -> x08 _,
    "x09_sql_topk_view" -> x09 _,
  )

  override def oracle: Map[String, String] = Map(
    "x15_sql_insert_guard" -> x15Sql,
    "x10_sql_using_graft" -> x10Sql,
    "x01_sql_theta_join" -> x01Text,
    "x02_sql_cosine_fn" -> x02Sql,
    "x03_sql_operator_view" -> x03Sql,
    "x04_sql_neardup_view" -> x04Sql,
    "x05_sql_window" -> x05Text,
    "x06_sql_versioned_read" -> x06Sql,
    "x07_sql_text_signals" -> x07Sql,
    "x08_sql_knn_view" -> x08Sql,
    "x09_sql_topk_view" -> x09Sql,
  )
}
