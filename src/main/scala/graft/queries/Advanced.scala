package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{PricedKey, TopKByPrice}
import graft.sources.{CatalogSource, SourceCatalog, Sources, Tables}

/** Advanced analytics surface: exact percentiles, statistical
  * aggregates, deterministic arg-max, grouping sets, a typed-Aggregator
  * top-k (SURVEY.md §2.10), MERGE-style upsert (§2.7 U3 note),
  * content-driven source discovery (§2.1 S2), all-null row/column
  * dropping (§2.2 P3/P4), and approximate distinct counting.
  *
  * Scale notes: percentiles/stats are single-shuffle partial+final
  * aggregates; the top-k Aggregator carries O(k) state through map-side
  * combine (the scale alternative to window sorts); the upsert is the
  * recompute formulation (anti ∪ updated) — the table-format-free shape
  * of MERGE.
  */
object Advanced extends QueryModule {

  /** v01 — exact percentiles (median / p90) per order priority. */
  private def v01(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90_price"),
        count(lit(1)).as("n"))
      .orderBy($"o_orderpriority")
  }
  private val v01Sql =
    """SELECT o_orderpriority,
         round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
         round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
         count(*) AS n
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** v02 — statistical aggregates: correlation, covariance, stddev,
    * variance per return flag. */
  private def v02(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(
        round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qty_price"),
        round(covar_samp($"l_quantity", $"l_extendedprice"), 4).as("covar_qty_price"),
        round(stddev_samp($"l_discount"), 6).as("sd_discount"),
        round(var_samp($"l_tax"), 6).as("var_tax"))
      .orderBy($"l_returnflag")
  }
  private val v02Sql =
    """SELECT l_returnflag,
         round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
         round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
         round(stddev_samp(l_discount), 6) AS sd_discount,
         round(var_samp(l_tax), 6) AS var_tax
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** v03 — deterministic arg-max via lexicographic struct max: the
    * orderkey of each customer's priciest order, ties broken by key.
    * One aggregate, no window sort. */
  private def v03(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_custkey")
      .agg(max(struct(round($"o_totalprice", 2).as("p"), $"o_orderkey".as("k"))).as("m"))
      .select($"o_custkey", $"m.p".as("best_price"), $"m.k".as("best_order"))
      .orderBy($"o_custkey")
  }
  private val v03Sql =
    """SELECT o_custkey, m.p AS best_price, m.k AS best_order FROM (
         SELECT o_custkey,
           max(struct_pack(p := round(o_totalprice, 2), k := o_orderkey)) AS m
         FROM orders GROUP BY o_custkey)
       ORDER BY o_custkey"""

  /** v04 — GROUPING SETS with grouping() disambiguation (the general
    * form of q07/q08's rollup/cube). */
  private def v04(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
           count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
         FROM orders_gs
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
         ORDER BY status, priority""")
  }
  private val v04Sql =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
         coalesce(o_orderpriority, 'ALL') AS priority,
         grouping(o_orderstatus) AS g_status,
         count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
       ORDER BY status, priority"""

  /** v05 — typed-Aggregator top-k (SURVEY §2.10): per-customer top-3
    * orders through a bounded heap with O(k) partial state — map-side
    * combine shrinks every partition's group to k rows pre-shuffle,
    * where the window formulation (w03) shuffles and sorts every row.
    * The oracle is that window formulation — both must agree exactly.
    */
  private def v05(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ds = Tables.orders(s, d)
      .select($"o_custkey", round($"o_totalprice", 2).as("price"), $"o_orderkey")
      .as[(Long, Double, Long)]
    val top3 = new TopKByPrice(3)
    ds.map { case (ck, p, k) => (ck, PricedKey(p, k)) }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(top3.toColumn.name("topk"))
      .flatMap { case (ck, items) =>
        items.zipWithIndex.map { case (pk, i) => (ck, (i + 1).toLong, pk.key, pk.price) }
      }
      .toDF("o_custkey", "rn", "o_orderkey", "price")
      .orderBy($"o_custkey", $"rn")
  }
  private val v05Sql =
    """SELECT o_custkey, rn, o_orderkey, price FROM (
         SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
           row_number() OVER (PARTITION BY o_custkey
             ORDER BY round(o_totalprice, 2) DESC, o_orderkey) AS rn
         FROM orders)
       WHERE rn <= 3 ORDER BY o_custkey, rn"""

  /** v06 — MERGE-style upsert without a table format (SURVEY §2.7 U3
    * upsert note): target = each customer's 1997 spend, source = 1998
    * spend; matched keys update (sum both years), unmatched source keys
    * insert, unmatched target keys are kept. Full-outer-join recompute
    * — the anti ∪ updated formulation in one pass.
    */
  private def v06(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, d)
    def spend(y: Int) = ord.filter(year($"o_orderdate") === y)
      .groupBy($"o_custkey").agg(round(sum($"o_totalprice"), 2).as(s"spend_$y"))
    spend(1997).withColumnRenamed("o_custkey", "t_key")
      .join(spend(1998).withColumnRenamed("o_custkey", "s_key"),
        $"t_key" === $"s_key", "full_outer")
      .select(
        coalesce($"t_key", $"s_key").as("o_custkey"),
        when($"t_key".isNotNull && $"s_key".isNotNull, "updated")
          .when($"s_key".isNotNull, "inserted").otherwise("kept").as("action"),
        round(coalesce($"spend_1997", lit(0.0)) + coalesce($"spend_1998", lit(0.0)), 2).as("spend"))
      .orderBy($"o_custkey")
  }
  private val v06Sql =
    """SELECT coalesce(t.o_custkey, s.o_custkey) AS o_custkey,
         CASE WHEN t.o_custkey IS NOT NULL AND s.o_custkey IS NOT NULL THEN 'updated'
              WHEN s.o_custkey IS NOT NULL THEN 'inserted' ELSE 'kept' END AS action,
         round(coalesce(t.spend_1997, 0.0) + coalesce(s.spend_1998, 0.0), 2) AS spend
       FROM (SELECT o_custkey, round(sum(o_totalprice), 2) AS spend_1997
             FROM orders WHERE year(o_orderdate) = 1997 GROUP BY o_custkey) t
       FULL OUTER JOIN (SELECT o_custkey, round(sum(o_totalprice), 2) AS spend_1998
             FROM orders WHERE year(o_orderdate) = 1998 GROUP BY o_custkey) s
         ON t.o_custkey = s.o_custkey
       ORDER BY o_custkey"""

  /** v07 — content-driven source discovery (SURVEY §2.1 S2: scan every
    * sheet for a keyword, return the first match): first source tag
    * whose documents mention 'spark', by source number. */
  private def v07(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .filter(lower($"text").contains("spark"))
      .select(regexp_extract($"source", "[0-9]+", 0).cast("int").as("src_num"))
      .orderBy($"src_num")
      .limit(1)
  }
  private val v07Sql =
    """SELECT CAST(regexp_extract(source, '[0-9]+', 0) AS INT) AS src_num
       FROM documents WHERE contains(lower(text), 'spark')
       ORDER BY src_num LIMIT 1"""

  /** v08 — drop all-null rows (P3) and report per-column null masses
    * (the aggregate P4's driver-side column pruning decides from).
    * Nullable columns are derived deterministically from events. */
  private def v08(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .withColumn("big_value", when($"value" > 100, $"value"))
      .withColumn("err_kind", when($"event_type" === "error", $"event_type"))
    val nonAllNull = ev.filter($"big_value".isNotNull || $"err_kind".isNotNull)
    nonAllNull.agg(
      count(lit(1)).as("rows_kept"),
      count($"big_value").as("nn_big_value"),
      count($"err_kind").as("nn_err_kind"))
  }
  private val v08Sql =
    """SELECT count(*) AS rows_kept,
         count(big_value) AS nn_big_value,
         count(err_kind) AS nn_err_kind
       FROM (
         SELECT CASE WHEN value > 100 THEN value END AS big_value,
           CASE WHEN event_type = 'error' THEN event_type END AS err_kind
         FROM events)
       WHERE big_value IS NOT NULL OR err_kind IS NOT NULL"""

  /** v09 — approximate distinct (HLL++): sketch-based cardinality per
    * status — the scale story is fixed-size sketch state vs a full
    * distinct shuffle. The raw estimate can't be oracled (DuckDB's
    * sketch differs), so the query outputs the PROPERTY instead: the
    * exact count (hash-matched against DuckDB's) plus `err_ok`, the
    * sketch landing within 2.5x its configured rsd of that exact count
    * — the oracle asserts TRUE, so a drifting sketch fails the gate.
    * HLL registers merge by max (commutative/associative), so the
    * estimate is partitioning-independent and the check deterministic. */
  private def v09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderstatus")
      .agg(approx_count_distinct($"o_custkey", 0.02).as("approx"),
        countDistinct($"o_custkey").as("exact_customers"))
      .withColumn("err_ok",
        abs($"approx" - $"exact_customers") <= $"exact_customers" * 0.05)
      .select($"o_orderstatus", $"exact_customers", $"err_ok")
      .orderBy($"o_orderstatus")
  }
  private val v09Sql =
    """SELECT o_orderstatus,
         count(DISTINCT o_custkey) AS exact_customers,
         TRUE AS err_ok
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** v10 — v05 again through the custom TopKPerKey LogicalPlan /
    * SparkStrategy / physical operator (graft.plans.TopKPerKeyPlan):
    * partial per-partition heaps cap the shuffle at k rows per key per
    * partition, the final stage merges per key. Same oracle as v05 —
    * the custom operator is held to the DuckDB gate like any builtin.
    */
  private def v10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, d)
      .select($"o_custkey", round($"o_totalprice", 2).as("price"), $"o_orderkey")
    val top = graft.plans.TopKPerKey.topKPerKey(base, 3,
      Seq($"o_custkey"), Seq($"price".desc, $"o_orderkey"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey").orderBy($"price".desc, $"o_orderkey")
    top.withColumn("rn", row_number().over(w).cast("long"))
      .select($"o_custkey", $"rn", $"o_orderkey", $"price")
      .orderBy($"o_custkey", $"rn")
  }

  /** v11 — catalog-level content discovery (SURVEY §2.1 S2/S4 gap,
    * VERDICT r1 missing #1): a directory of heterogeneous
    * schema-declared files (csv + json-lines + parquet, different
    * schemas — the "workbook") probed in declaration order for the
    * first source whose content contains the keyword, then the hit
    * count inside that source. 'neraca' appears in the 2nd source
    * only, so the probe must skip a non-matching source first. The
    * fixture dir is (re)written from the deterministic pipeline
    * fixtures on every run, so the query is self-contained and the
    * DuckDB oracle reads the very same files.
    */
  // per-JVM scratch (see graft.util.Scratch): the fixed /tmp name this
  // replaced raced concurrent JVMs' overwrite-mode rewrites. The oracle
  // SQL interpolates the same per-JVM path, and the Scratch root
  // survives JVM exit (deleteOnExit only removes an empty root), so the
  // driver's later DuckDB pass still reads the files Verify wrote.
  private val catalogDir = graft.util.Scratch.dir("catalog_fixture")
  private def v11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (raw, meta, _) = Pipelines.fixture(s)
    Sources.writeCsv(meta.coalesce(1), s"$catalogDir/meta_csv")
    Sources.writeJsonLines(raw.coalesce(1), s"$catalogDir/raw_json")
    val (_, lines) = Pipelines.p03Fixture(s)
    lines.coalesce(1).write.mode("overwrite").parquet(s"$catalogDir/lines_parquet")
    val catalog = Seq(
      CatalogSource("meta_csv", s"$catalogDir/meta_csv", "csv", StructType(Seq(
        StructField("filing_id", StringType), StructField("key", StringType),
        StructField("value", StringType)))),
      CatalogSource("raw_json", s"$catalogDir/raw_json", "json", StructType(Seq(
        StructField("filing_id", StringType), StructField("statement", StringType),
        StructField("row_id", IntegerType), StructField("item", StringType),
        StructField("value", DoubleType)))),
      CatalogSource("lines_parquet", s"$catalogDir/lines_parquet", "parquet", StructType(Seq(
        StructField("doc_id", StringType), StructField("kode_emiten", StringType),
        StructField("tahun", IntegerType), StructField("quartal", IntegerType),
        StructField("grup_laporan_keuangan", StringType), StructField("page", IntegerType),
        StructField("line_no", IntegerType), StructField("text", StringType)))))
    val found = SourceCatalog.discover(s, catalog, "neraca")
      .getOrElse(throw new NoSuchElementException("no catalog source matches"))
    val df = SourceCatalog.load(s, found)
    df.filter(SourceCatalog.containsKeyword(df, "neraca"))
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(found.name).as("source_name"), $"n_hits")
  }
  private val v11Sql =
    s"""WITH probes AS (
         SELECT 1 AS ord, 'meta_csv' AS source_name, count(*) AS n_hits
         FROM read_csv('$catalogDir/meta_csv/*.csv', header=true,
           columns={'filing_id':'VARCHAR','key':'VARCHAR','value':'VARCHAR'})
         WHERE contains(lower(trim(filing_id)), 'neraca')
            OR contains(lower(trim("key")), 'neraca')
            OR contains(lower(trim("value")), 'neraca')
         UNION ALL
         SELECT 2, 'raw_json', count(*)
         FROM read_json('$catalogDir/raw_json/*.json', format='newline_delimited',
           columns={'filing_id':'VARCHAR','statement':'VARCHAR','row_id':'INTEGER',
                    'item':'VARCHAR','value':'DOUBLE'})
         WHERE contains(lower(trim(filing_id)), 'neraca')
            OR contains(lower(trim(statement)), 'neraca')
            OR contains(lower(trim(CAST(row_id AS VARCHAR))), 'neraca')
            OR contains(lower(trim(item)), 'neraca')
            OR contains(lower(trim(CAST("value" AS VARCHAR))), 'neraca')
         UNION ALL
         SELECT 3, 'lines_parquet', count(*)
         FROM read_parquet('$catalogDir/lines_parquet/*.parquet')
         WHERE contains(lower(trim(doc_id)), 'neraca')
            OR contains(lower(trim(kode_emiten)), 'neraca')
            OR contains(lower(trim(CAST(tahun AS VARCHAR))), 'neraca')
            OR contains(lower(trim(CAST(quartal AS VARCHAR))), 'neraca')
            OR contains(lower(trim(grup_laporan_keuangan)), 'neraca')
            OR contains(lower(trim(CAST(page AS VARCHAR))), 'neraca')
            OR contains(lower(trim(CAST(line_no AS VARCHAR))), 'neraca')
            OR contains(lower(trim(text)), 'neraca'))
       SELECT source_name, n_hits FROM probes WHERE n_hits > 0
       ORDER BY ord LIMIT 1"""

  /** v12 — incremental aggregate maintenance (partial-agg merge): a
    * materialized per-customer summary over the CLOSED order history
    * (pre-1998) is refreshed with the 1998 delta by merging aggregate
    * states — counts add, sums add, mins take min, avg re-derives from
    * (sum, count) — never by rescanning history. This is the
    * materialized-view maintenance contract every warehouse ETL relies
    * on: at 100 TB the base aggregate is orders-of-magnitude smaller
    * than its source, so the refresh cost is |delta| + |view|, not
    * |history|. The two partial aggregates merge through one unionByName
    * + re-aggregate — the same algebra Spark's own partial/final
    * HashAggregate pair uses, expressed at the view level. The oracle is
    * the full recompute over all orders: merged view == recomputed view,
    * which is precisely the invariant that makes incremental refresh
    * trustworthy.
    */
  private def v12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // money as exact integer cents from the first touch: a float sum's
    // association order differs between the partial-merged refresh and
    // the oracle's single pass, and a 2-decimal quotient by an integer
    // count lands EXACTLY on .005 boundaries where the last ulp (and the
    // engines' differing double-rounding conventions) flips the answer
    // (measured: 237778.855 -> .85 vs .86). Integer arithmetic is
    // associative, so the merged view is bit-identical to the recompute
    // — the stronger form of the invariant this operator exists to hold.
    def part(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"o_custkey").agg(
        count(lit(1)).as("n_orders"),
        sum(round($"o_totalprice" * 100).cast("long")).as("cents"),
        min($"o_orderdate").as("first_order"))
    val orders = Tables.orders(s, d)
    val base = part(orders.filter(year($"o_orderdate") < 1998))
    val delta = part(orders.filter(year($"o_orderdate") >= 1998))
    base.unionByName(delta)
      .groupBy($"o_custkey")
      .agg(sum($"n_orders").as("n_orders"),
        sum($"cents").as("cents"),
        min($"first_order").as("first_order"))
      .select($"o_custkey", $"n_orders",
        ($"cents" / 100.0).as("total_spend"),
        // half-up integer division to whole cents: (2c + n) div 2n
        (expr("(cents * 2 + n_orders) div (n_orders * 2)") / 100.0).as("avg_spend"),
        $"first_order")
      .orderBy($"o_custkey")
  }
  private val v12Sql =
    """SELECT o_custkey, n_orders,
         cents / 100.0 AS total_spend,
         ((cents * 2 + n_orders) // (n_orders * 2)) / 100.0 AS avg_spend,
         first_order
       FROM (
         SELECT o_custkey, count(*) AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
           min(o_orderdate) AS first_order
         FROM orders GROUP BY o_custkey)
       ORDER BY o_custkey"""

  /** v13 — approximate percentile (GK sketch): the percentile tool
    * that holds at 100 TB — the exact form needs a full per-group
    * sort, `approx_percentile` keeps a fixed-size mergeable sketch
    * with a hard RANK-error bound (n/accuracy). Oracled by the v09
    * property pattern: the EXACT interpolated percentiles hash-match
    * DuckDB's quantile_cont, and the sketch's pick is checked against
    * its own guarantee — the fraction of group rows at or below the
    * approx median must sit within 10x the configured rank error of
    * 0.5 (a value-error bound would be wrong: GK guarantees rank, not
    * value). A drifting sketch flips err_ok and fails the gate.
    */
  private def v13(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, d).select($"o_orderpriority", $"o_totalprice")
    val agg = ord.groupBy($"o_orderpriority")
      .agg(percentile_approx($"o_totalprice", lit(0.5), lit(1000)).as("ap50"),
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.95)").as("p95"),
        count(lit(1)).as("n"))
    ord.join(broadcast(agg), "o_orderpriority")
      .groupBy($"o_orderpriority")
      .agg(round(first($"p50"), 6).as("p50"),
        round(first($"p95"), 6).as("p95"),
        first($"n").as("n"),
        (abs(sum(($"o_totalprice" <= $"ap50").cast("long")) / first($"n") - 0.5)
          <= 0.01).as("err_ok"))
      .orderBy($"o_orderpriority")
  }
  private val v13Sql =
    """SELECT o_orderpriority,
         round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
         round(quantile_cont(o_totalprice, 0.95), 6) AS p95,
         CAST(count(*) AS BIGINT) AS n,
         TRUE AS err_ok
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** v14 — SCD2 dimension build (ops/Dimensions.scd2): the per-customer
    * order-priority history collapsed into validity intervals, the
    * warehouse pattern for tracking entity state over time (the
    * reference re-probes entity metadata per filing; a dimension keeps
    * the history). Same-day observations resolve latest-wins by
    * o_orderkey; consecutive equal states merge. One hash exchange on
    * o_custkey for the whole build — see the scd2 scaladoc for the
    * 100 TB argument. Oracle replays the interval construction with
    * DuckDB windows (IS DISTINCT FROM = the struct `<=>`).
    */
  private def v14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Dimensions.scd2(
      Tables.orders(s, d)
        .select($"o_custkey", $"o_orderdate", $"o_orderpriority", $"o_orderkey"),
      keys = Seq("o_custkey"), ts = "o_orderdate",
      attrs = Seq("o_orderpriority"), tieBreak = Seq("o_orderkey"))
      .withColumn("valid_from", to_date($"valid_from"))
      .withColumn("valid_to", to_date($"valid_to"))
      .orderBy($"o_custkey", $"valid_from")
  }
  private val v14Sql =
    """WITH latest AS (
         SELECT o_custkey, o_orderdate, o_orderpriority,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate
                              ORDER BY o_orderkey DESC) AS rn
         FROM orders),
       changes AS (
         SELECT o_custkey, o_orderdate, o_orderpriority,
           lag(o_orderpriority) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate) AS prev
         FROM latest WHERE rn = 1),
       kept AS (
         SELECT o_custkey, o_orderdate, o_orderpriority FROM changes
         WHERE prev IS DISTINCT FROM o_orderpriority)
       SELECT o_custkey, o_orderpriority,
         CAST(o_orderdate AS DATE) AS valid_from,
         CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate) AS DATE) AS valid_to,
         (lead(o_orderdate) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate)) IS NULL AS is_current
       FROM kept ORDER BY o_custkey, valid_from"""

  /** v15 — COUNT-MIN SKETCH heavy hitters: per-user event frequencies
    * estimated from a 3x512 counter grid (three pairwise-independent
    * affine hashes), heavy hitters selected BY THE SKETCH ESTIMATE,
    * exact counts carried alongside so the one-sided error
    * (est >= exact, AdvancedSpec pins it) is part of the checked
    * result. WHY at scale: the sketch is 1536 integers of mergeable
    * state NO MATTER the key cardinality — the frequency-tracking
    * shape for unbounded key domains (IPs, URLs, doc fingerprints)
    * where an exact groupBy's state grows with distinct keys. Counter
    * updates are commutative sums, so the sketch is
    * partitioning-independent and bit-deterministic; the hashes are
    * plain affine mod-prime arithmetic BOTH engines evaluate
    * identically (a Murmur-based hash would fork the oracle).
    */
  private def v15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val A = Seq(1000003L, 1000033L, 1000037L)
    val B = Seq(12289L, 24593L, 49157L)
    val P = 1000000007L
    val W = 512L
    def buckets(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array((0 until 3).map { k =>
      struct(lit(k).as("k"), ((key * A(k) + B(k)) % P % W).as("b"))
    }: _*)
    val rows = Tables.events(s, d).select($"user_id")
    val counters = rows.select(explode(buckets($"user_id")).as("h"))
      .groupBy($"h.k".as("k"), $"h.b".as("b"))
      .agg(count(lit(1)).as("cnt"))
    val users = rows.groupBy($"user_id").agg(count(lit(1)).as("exact_n"))
    users.select($"user_id", $"exact_n", explode(buckets($"user_id")).as("h"))
      .select($"user_id", $"exact_n", $"h.k".as("k"), $"h.b".as("b"))
      .join(broadcast(counters), Seq("k", "b"))
      .groupBy($"user_id", $"exact_n").agg(min($"cnt").as("cms_est"))
      .orderBy($"cms_est".desc, $"user_id")
      .limit(20)
  }
  private val v15Sql =
    """WITH ks AS (SELECT * FROM (VALUES (0, 1000003, 12289),
                     (1, 1000033, 24593), (2, 1000037, 49157)) t(k, a, b)),
       counters AS (
         SELECT k, ((user_id * a + b) % 1000000007) % 512 AS b, count(*) AS cnt
         FROM events, ks GROUP BY 1, 2),
       users AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1)
       SELECT u.user_id, u.exact_n, CAST(min(cnt) AS BIGINT) AS cms_est
       FROM users u, ks, counters c
       WHERE c.k = ks.k
         AND c.b = ((u.user_id * ks.a + ks.b) % 1000000007) % 512
       GROUP BY 1, 2
       ORDER BY cms_est DESC, u.user_id LIMIT 20"""

  /** v16 — CDC LOG COMPACTION (merge-on-read apply): a change log of
    * keyed upsert/delete operations collapsed to final table state —
    * last version wins per key, a final delete removes the key. The
    * log is derived deterministically from lineitem (key = orderkey,
    * version = linenumber, delete when returnflag = 'R'). The apply is
    * ONE hash aggregation via max-of-struct with the version leading
    * (argmax without a window sort — at 100 TB the per-key row_number
    * formulation pays a sort per shuffle partition; the struct-max is
    * a map-side-combinable aggregate), then a filter on the surviving
    * op. This is the Debezium/Delta merge-on-read compaction shape.
    */
  private def v16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val log = Tables.lineitem(s, d).select(
      $"l_orderkey".as("key"), $"l_linenumber".as("version"),
      $"l_returnflag".as("rf"), $"l_linestatus".as("status"),
      $"l_quantity".as("qty"))
    // (key, version) is NOT unique in this synthetic log — the struct
    // max's lexicographic order (version, rf, status, qty) IS the
    // total version order, and the oracle mirrors it term for term
    val last = log.groupBy($"key")
      .agg(max(struct($"version", $"rf", $"status", $"qty")).as("fin"))
    last.filter($"fin.rf" =!= "R")
      .groupBy($"fin.status".as("status"))
      .agg(count(lit(1)).as("n_keys"),
        round(sum($"fin.qty"), 2).as("sum_qty"))
      .orderBy($"status")
  }
  private val v16Sql =
    """WITH last AS (
         SELECT l_orderkey, l_returnflag, l_linestatus, l_quantity,
           row_number() OVER (PARTITION BY l_orderkey
             ORDER BY l_linenumber DESC, l_returnflag DESC,
                      l_linestatus DESC, l_quantity DESC) AS rn
         FROM lineitem)
       SELECT l_linestatus AS status, count(*) AS n_keys,
         round(sum(l_quantity), 2) AS sum_qty
       FROM last WHERE rn = 1 AND l_returnflag <> 'R'
       GROUP BY 1 ORDER BY status"""

  /** v17 — small-file COMPACTION PLANNER: the 100 TB housekeeping op
    * every partitioned lake needs. The "file listing" is derived
    * deterministically from events — one file per (event_type, day)
    * with its byte size — and the planner bin-packs each type's files,
    * in day order, into compaction groups of ~256 KB target size:
    * bin = bytes-before-this-file div target, i.e. a file starts a new
    * group when the running total crosses the target. That is ONE
    * partitioned window cumsum — per event_type, so at real scale the
    * plan parallelizes per partition key and never globally sorts the
    * listing; the output (group spans + sizes) is exactly what a
    * rewrite job consumes. Greedy start-offset binning is the
    * deterministic standard (bins can overshoot by at most one file).
    */
  private def v17(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val files = Tables.events(s, d)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg((sum(octet_length($"props")) + lit(16L) * count(lit(1))).as("bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Long.MinValue, 0)
    val target = 262144L
    files
      .withColumn("cum", sum($"bytes").over(w))
      .withColumn("bin", expr(s"(cum - bytes) div $target"))
      .groupBy($"event_type", $"bin")
      .agg(count(lit(1)).as("n_files"), sum($"bytes").as("total_bytes"),
        min($"day").as("first_day"), max($"day").as("last_day"))
      .orderBy($"event_type", $"bin")
  }
  private val v17Sql =
    """WITH files AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(sum(strlen(props)) + 16 * count(*) AS BIGINT) AS bytes
         FROM events GROUP BY 1, 2),
       binned AS (
         SELECT event_type, day, bytes,
           CAST((CAST(sum(bytes) OVER (PARTITION BY event_type ORDER BY day)
                 AS BIGINT) - bytes) // 262144 AS BIGINT) AS bin
         FROM files)
       SELECT event_type, bin, count(*) AS n_files,
         CAST(sum(bytes) AS BIGINT) AS total_bytes,
         min(day) AS first_day, max(day) AS last_day
       FROM binned GROUP BY 1, 2 ORDER BY event_type, bin"""

  /** v18 — DATA-QUALITY CONSTRAINT AUDIT (the Deequ-shaped check suite
    * every production ingest runs before publishing a table): declared
    * constraints evaluated to one verdict row each — size, column
    * completeness, key uniqueness, value range, categorical domain,
    * and referential integrity. Each metric is an exact integer or a
    * single division of exact integers (rounded for display), so the
    * verdicts are engine-exact. Scale: one aggregate pass over the
    * fact table covers the column metrics; uniqueness is one distinct
    * count on the key pair; the FK check is a broadcast-able anti-join
    * against the dimension — nothing scans the fact table more than
    * three times however many constraints ride the same pass. */
  private def v18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val base = li.agg(
      count(lit(1)).as("n"),
      sum($"l_shipdate".isNull.cast("long")).as("null_ship"),
      min($"l_quantity").as("min_qty"), max($"l_quantity").as("max_qty"),
      sum((!$"l_returnflag".isin("A", "N", "R")).cast("long")).as("bad_rf"))
    val uniq = li.select($"l_orderkey", $"l_linenumber").distinct()
      .agg(count(lit(1)).as("n_distinct"))
    val fk = Tables.orders(s, d).join(Tables.customer(s, d),
        $"o_custkey" === $"c_custkey", "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    val r = base.crossJoin(uniq).crossJoin(fk)
    r.select(lit("size_nonempty").as("check_name"),
        $"n".cast("double").as("metric"), ($"n" > 0).as("passed"))
      .unionAll(r.select(lit("completeness_l_shipdate"),
        round(($"n" - $"null_ship") / $"n", 6), $"null_ship" === 0))
      .unionAll(r.select(lit("uniqueness_orderkey_linenumber"),
        round($"n_distinct" / $"n", 6), $"n_distinct" === $"n"))
      .unionAll(r.select(lit("range_quantity_1_50"),
        $"max_qty".cast("double"), $"min_qty" >= 1 && $"max_qty" <= 50))
      .unionAll(r.select(lit("domain_returnflag"),
        $"bad_rf".cast("double"), $"bad_rf" === 0))
      .unionAll(r.select(lit("fk_orders_customer"),
        $"n_orphans".cast("double"), $"n_orphans" === 0))
      .orderBy($"check_name")
  }
  private val v18Sql =
    """WITH base AS (
         SELECT count(*) AS n,
           sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS null_ship,
           min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
           sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS bad_rf
         FROM lineitem),
       uniq AS (SELECT count(*) AS n_distinct FROM
         (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)),
       fk AS (SELECT count(*) AS n_orphans FROM orders
              WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
       r AS (SELECT * FROM base, uniq, fk)
       SELECT check_name, metric, passed FROM (
         SELECT 'size_nonempty' AS check_name, CAST(n AS DOUBLE) AS metric,
           n > 0 AS passed FROM r
         UNION ALL SELECT 'completeness_l_shipdate',
           round(CAST(n - null_ship AS DOUBLE) / n, 6), null_ship = 0 FROM r
         UNION ALL SELECT 'uniqueness_orderkey_linenumber',
           round(CAST(n_distinct AS DOUBLE) / n, 6), n_distinct = n FROM r
         UNION ALL SELECT 'range_quantity_1_50',
           CAST(max_qty AS DOUBLE), min_qty >= 1 AND max_qty <= 50 FROM r
         UNION ALL SELECT 'domain_returnflag',
           CAST(bad_rf AS DOUBLE), bad_rf = 0 FROM r
         UNION ALL SELECT 'fk_orders_customer',
           CAST(n_orphans AS DOUBLE), n_orphans = 0 FROM r)
       ORDER BY check_name"""

  /** v19 — durable KEY-SCOPED MERGE on parquet (`Sources.mergeParquet`
    * under the oracle gate): a target table (per-customer spend through
    * 1997) is loaded, then a 1998 update batch merges in — customers
    * whose 1998 orders include an URGENT one are DELETED (tombstone),
    * the rest have their row REPLACED by the 1998 figures, new
    * customers insert. The output is the final ON-DISK table state
    * read back, so the oracle (which recomputes the merged state
    * relationally) certifies the storage-layer merge end-to-end:
    * bucket pruning, tombstone removal, emptied-directory cleanup,
    * dynamic partition overwrite. This is the reference's
    * update-then-insert upsert (mainTesting.py:130-149) as a durable
    * table operation rather than a recompute (v06's form). Each run
    * starts from a fresh directory, so the query is a pure function of
    * the inputs; double-merge idempotence is spec'd in SourcesSpec. */
  private def v19(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = graft.util.Scratch.fresh("v19_merge")
    val ord = Tables.orders(s, d)
    val target = ord.filter(year($"o_orderdate") <= 1997)
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"),
        count(lit(1)).as("n_orders"))
    val updates = ord.filter(year($"o_orderdate") === 1998)
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"),
        count(lit(1)).as("n_orders"),
        (min($"o_orderpriority") === "1-URGENT").as("del"))
    graft.sources.Sources.mergeParquet(s, dir,
      target.withColumn("del", lit(false)), Seq("o_custkey"), Some("del"))
    graft.sources.Sources.mergeParquet(s, dir,
      updates, Seq("o_custkey"), Some("del"))
    s.read.parquet(dir)
      .select($"o_custkey", $"spend", $"n_orders")
      .orderBy($"o_custkey")
  }
  private val v19Sql =
    """WITH target AS (
         SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
           count(*) AS n_orders
         FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 1),
       upd AS (
         SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
           count(*) AS n_orders,
           min(o_orderpriority) = '1-URGENT' AS del
         FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1)
       SELECT o_custkey, spend, n_orders FROM (
         SELECT o_custkey, spend, n_orders FROM target
         WHERE o_custkey NOT IN (SELECT o_custkey FROM upd)
         UNION ALL
         SELECT o_custkey, spend, n_orders FROM upd WHERE NOT del)
       ORDER BY o_custkey"""

  /** v20 — versioned table TIME TRAVEL (`VersionedTable` under the
    * oracle gate): a base load (per-customer spend through 1997) plus
    * two 20-key "corrections" commits — the top-40 customers by 1998
    * spend, split top-20 / next-20, each batch replacing matched
    * customers with their 1998 figures, INSERTING 1998-only customers,
    * and tombstoning those whose 1998 orders include an URGENT one —
    * and the output reads ALL THREE versions back via snapshot reads.
    * The oracle recomputes each state relationally (chained), so it
    * certifies the whole log-structured lifecycle end-to-end: manifest
    * commits, bucket-scoped rewrites, owner-map pruning, and that
    * earlier versions are UNTOUCHED by later merges. Storage-layer
    * laws the oracle can't see (vacuum, schema widening, single-writer
    * commit, emptied buckets) are spec'd in VersionedTableSpec.
    * Scale: the 20-key batches are the point — each merge reads and
    * rewrites ≤ 20 of the 64 key-hash buckets no matter the table
    * size (the batch is rank-selected, so it stays 20 keys at every
    * SF), and each snapshot read is one tiny JSON plus bucket-pruned
    * scans of the live commit dirs. The top-40 selection itself is
    * orderBy+limit — TakeOrderedAndProject, no global window. */
  private def v20(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = graft.util.Scratch.fresh("v20_vtab")
    val ord = Tables.orders(s, d)
    val t0 = ord.filter(year($"o_orderdate") <= 1997)
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"),
        count(lit(1)).as("n_orders"))
    val top40 = ord.filter(year($"o_orderdate") === 1998)
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"),
        count(lit(1)).as("n_orders"),
        (min($"o_orderpriority") === "1-URGENT").as("del"))
      .orderBy($"spend".desc, $"o_custkey").limit(40)
      // rank within 40 collected-size rows — a window over a LIMIT, not
      // over the corpus
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"spend".desc, $"o_custkey")))
    graft.sources.VersionedTable.merge(s, dir, t0, Seq("o_custkey"))
    graft.sources.VersionedTable.merge(s, dir,
      top40.filter($"rk" <= 20).drop("rk"), Seq("o_custkey"), Some("del"))
    graft.sources.VersionedTable.merge(s, dir,
      top40.filter($"rk" > 20).drop("rk"), Seq("o_custkey"), Some("del"))
    (0L to 2L).map { v =>
      graft.sources.VersionedTable.read(s, dir, Some(v))
        .select(lit(v).as("version"), $"o_custkey", $"spend", $"n_orders")
    }.reduce(_ unionByName _).orderBy($"version", $"o_custkey")
  }
  private val v20Sql =
    """WITH t0 AS (
         SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
           count(*) AS n_orders
         FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 1),
       ranked AS (
         SELECT o_custkey, spend, n_orders, del,
           row_number() OVER (ORDER BY spend DESC, o_custkey) AS rk
         FROM (
           SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
             count(*) AS n_orders,
             min(o_orderpriority) = '1-URGENT' AS del
           FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1)),
       u1 AS (SELECT * FROM ranked WHERE rk <= 20),
       u2 AS (SELECT * FROM ranked WHERE rk > 20 AND rk <= 40),
       s1 AS (
         SELECT o_custkey, spend, n_orders FROM t0
         WHERE o_custkey NOT IN (SELECT o_custkey FROM u1)
         UNION ALL
         SELECT o_custkey, spend, n_orders FROM u1 WHERE NOT del),
       s2 AS (
         SELECT o_custkey, spend, n_orders FROM s1
         WHERE o_custkey NOT IN (SELECT o_custkey FROM u2)
         UNION ALL
         SELECT o_custkey, spend, n_orders FROM u2 WHERE NOT del)
       SELECT CAST(0 AS BIGINT) AS version, o_custkey, spend, n_orders FROM t0
       UNION ALL
       SELECT CAST(1 AS BIGINT), o_custkey, spend, n_orders FROM s1
       UNION ALL
       SELECT CAST(2 AS BIGINT), o_custkey, spend, n_orders FROM s2
       ORDER BY version, o_custkey"""

  /** v21 — versioned-table CHANGE FEED + RESTORE under the oracle
    * gate: the v20 lifecycle (base load, two 20-key correction merges)
    * plus an O(manifest) `restore(0)` rollback, with
    * `VersionedTable.changes` replayed across every consecutive
    * version pair. Step 1/2 certify the feed over real merges (inserts,
    * replacements, tombstones); step 3 diffs ACROSS the restore commit
    * and must equal the exact inverse of the cumulative corrections —
    * which certifies restore's owner-map rollback through the same
    * relational oracle (it recomputes each diff from the raw tables
    * with full-outer key logic; IS DISTINCT FROM mirrors the engine's
    * null-safe struct comparison). Scale: each feed reads only the
    * buckets whose owner changed between the two manifests — ≤ the
    * merge's key count, never the table — and the restore moved zero
    * bytes. Updated keys emit update_pre + update_post (the Delta CDF
    * shape), so a downstream consumer can replay either side. */
  private def v21(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = graft.util.Scratch.fresh("v21_cdf")
    val ord = Tables.orders(s, d)
    val t0 = ord.filter(year($"o_orderdate") <= 1997)
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"),
        count(lit(1)).as("n_orders"))
    val top40 = ord.filter(year($"o_orderdate") === 1998)
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"),
        count(lit(1)).as("n_orders"),
        (min($"o_orderpriority") === "1-URGENT").as("del"))
      .orderBy($"spend".desc, $"o_custkey").limit(40)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"spend".desc, $"o_custkey")))
    graft.sources.VersionedTable.merge(s, dir, t0, Seq("o_custkey"))
    graft.sources.VersionedTable.merge(s, dir,
      top40.filter($"rk" <= 20).drop("rk"), Seq("o_custkey"), Some("del"))
    graft.sources.VersionedTable.merge(s, dir,
      top40.filter($"rk" > 20).drop("rk"), Seq("o_custkey"), Some("del"))
    graft.sources.VersionedTable.restore(s, dir, 0L) // commits version 3
    (0 until 3).map { i =>
      graft.sources.VersionedTable.changes(s, dir, i.toLong, i + 1L)
        .withColumn("step", lit(i + 1))
    }.reduce(_ unionByName _)
      .select($"step", $"change", $"o_custkey", $"spend", $"n_orders")
      .orderBy($"step", $"o_custkey", $"change")
  }
  private val v21Sql =
    """WITH t0 AS (
         SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
           count(*) AS n_orders
         FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 1),
       ranked AS (
         SELECT o_custkey, spend, n_orders, del,
           row_number() OVER (ORDER BY spend DESC, o_custkey) AS rk
         FROM (
           SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
             count(*) AS n_orders,
             min(o_orderpriority) = '1-URGENT' AS del
           FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1)),
       u1 AS (SELECT * FROM ranked WHERE rk <= 20),
       u2 AS (SELECT * FROM ranked WHERE rk > 20 AND rk <= 40),
       s1 AS (
         SELECT o_custkey, spend, n_orders FROM t0
         WHERE o_custkey NOT IN (SELECT o_custkey FROM u1)
         UNION ALL
         SELECT o_custkey, spend, n_orders FROM u1 WHERE NOT del),
       s2 AS (
         SELECT o_custkey, spend, n_orders FROM s1
         WHERE o_custkey NOT IN (SELECT o_custkey FROM u2)
         UNION ALL
         SELECT o_custkey, spend, n_orders FROM u2 WHERE NOT del),
       d1 AS (
         SELECT 1 AS step, 'insert' AS change, b.* FROM s1 b
         WHERE b.o_custkey NOT IN (SELECT o_custkey FROM t0)
         UNION ALL
         SELECT 1, 'delete', a.* FROM t0 a
         WHERE a.o_custkey NOT IN (SELECT o_custkey FROM s1)
         UNION ALL
         SELECT 1, 'update_pre', a.* FROM t0 a JOIN s1 b USING (o_custkey)
         WHERE a.spend IS DISTINCT FROM b.spend
            OR a.n_orders IS DISTINCT FROM b.n_orders
         UNION ALL
         SELECT 1, 'update_post', b.* FROM t0 a JOIN s1 b USING (o_custkey)
         WHERE a.spend IS DISTINCT FROM b.spend
            OR a.n_orders IS DISTINCT FROM b.n_orders),
       d2 AS (
         SELECT 2 AS step, 'insert' AS change, b.* FROM s2 b
         WHERE b.o_custkey NOT IN (SELECT o_custkey FROM s1)
         UNION ALL
         SELECT 2, 'delete', a.* FROM s1 a
         WHERE a.o_custkey NOT IN (SELECT o_custkey FROM s2)
         UNION ALL
         SELECT 2, 'update_pre', a.* FROM s1 a JOIN s2 b USING (o_custkey)
         WHERE a.spend IS DISTINCT FROM b.spend
            OR a.n_orders IS DISTINCT FROM b.n_orders
         UNION ALL
         SELECT 2, 'update_post', b.* FROM s1 a JOIN s2 b USING (o_custkey)
         WHERE a.spend IS DISTINCT FROM b.spend
            OR a.n_orders IS DISTINCT FROM b.n_orders),
       d3 AS (
         SELECT 3 AS step, 'insert' AS change, b.* FROM t0 b
         WHERE b.o_custkey NOT IN (SELECT o_custkey FROM s2)
         UNION ALL
         SELECT 3, 'delete', a.* FROM s2 a
         WHERE a.o_custkey NOT IN (SELECT o_custkey FROM t0)
         UNION ALL
         SELECT 3, 'update_pre', a.* FROM s2 a JOIN t0 b USING (o_custkey)
         WHERE a.spend IS DISTINCT FROM b.spend
            OR a.n_orders IS DISTINCT FROM b.n_orders
         UNION ALL
         SELECT 3, 'update_post', b.* FROM s2 a JOIN t0 b USING (o_custkey)
         WHERE a.spend IS DISTINCT FROM b.spend
            OR a.n_orders IS DISTINCT FROM b.n_orders)
       SELECT step, change, o_custkey, spend, n_orders
       FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2
             UNION ALL SELECT * FROM d3)
       ORDER BY step, o_custkey, change"""

  /** v22 — INCREMENTAL VIEW MAINTENANCE from the change feed
    * (`VersionedTable.maintain` under the oracle gate): the v20/v21
    * lifecycle (base load, two 20-key correction merges) feeds a
    * materialized spend-band rollup — `band = cents div 500000`,
    * customers and total spend per band — that is maintained version
    * to version by applying each step's CDF diff with signed weights
    * (the IVM counting algorithm), never by re-reading the table. The
    * output stacks the version-0 view (computed directly, once) with
    * the MAINTAINED views at versions 1 and 2; the oracle recomputes
    * every band rollup from each version's relational state, so a
    * hash match certifies maintained == recomputed through inserts,
    * replacements, and tombstones — the invariant that lets a 100 TB
    * warehouse refresh its dashboards from merge-batch-sized feeds
    * instead of full snapshot scans. Money is exact integer cents
    * before any aggregation (v12's discipline), so the equality is
    * bit-level: every delete cancels exactly what its insert added.
    * The band key is derived integer division on the exact cents —
    * an update that moves a customer across bands emits −1 in the old
    * band and +1 in the new one from the same update_pre/update_post
    * pair. */
  private def v22(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = graft.util.Scratch.fresh("v22_ivm")
    val ord = Tables.orders(s, d)
    val t0 = ord.filter(year($"o_orderdate") <= 1997)
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"),
        count(lit(1)).as("n_orders"))
    val top40 = ord.filter(year($"o_orderdate") === 1998)
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"),
        count(lit(1)).as("n_orders"),
        (min($"o_orderpriority") === "1-URGENT").as("del"))
      .orderBy($"spend".desc, $"o_custkey").limit(40)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"spend".desc, $"o_custkey")))
    graft.sources.VersionedTable.merge(s, dir, t0, Seq("o_custkey"))
    graft.sources.VersionedTable.merge(s, dir,
      top40.filter($"rk" <= 20).drop("rk"), Seq("o_custkey"), Some("del"))
    graft.sources.VersionedTable.merge(s, dir,
      top40.filter($"rk" > 20).drop("rk"), Seq("o_custkey"), Some("del"))
    def banded(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("cents", expr("cast(round(spend * 100) as bigint)"))
      .withColumn("band", expr("cents div 500000"))
    var view = banded(graft.sources.VersionedTable.read(s, dir, Some(0L)))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_customers"), sum($"cents").as("cents"))
    val states = Seq.newBuilder[org.apache.spark.sql.DataFrame]
    states += view.withColumn("version", lit(0L))
    for (v <- 1L to 2L) {
      val feed = banded(graft.sources.VersionedTable.changes(s, dir, v - 1, v))
      view = graft.sources.VersionedTable.maintain(
        view, feed, Seq("band"), "n_customers", Seq("cents"))
      states += view.withColumn("version", lit(v))
    }
    states.result().reduce(_ unionByName _)
      .select($"version", $"band", $"n_customers",
        ($"cents" / 100.0).as("total_spend"))
      .orderBy($"version", $"band")
  }
  private val v22Sql =
    """WITH t0 AS (
         SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
           count(*) AS n_orders
         FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 1),
       ranked AS (
         SELECT o_custkey, spend, n_orders, del,
           row_number() OVER (ORDER BY spend DESC, o_custkey) AS rk
         FROM (
           SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
             count(*) AS n_orders,
             min(o_orderpriority) = '1-URGENT' AS del
           FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1)),
       u1 AS (SELECT * FROM ranked WHERE rk <= 20),
       u2 AS (SELECT * FROM ranked WHERE rk > 20 AND rk <= 40),
       s1 AS (
         SELECT o_custkey, spend FROM t0
         WHERE o_custkey NOT IN (SELECT o_custkey FROM u1)
         UNION ALL
         SELECT o_custkey, spend FROM u1 WHERE NOT del),
       s2 AS (
         SELECT o_custkey, spend FROM s1
         WHERE o_custkey NOT IN (SELECT o_custkey FROM u2)
         UNION ALL
         SELECT o_custkey, spend FROM u2 WHERE NOT del),
       b0 AS (SELECT CAST(round(spend * 100) AS BIGINT) AS cents FROM t0),
       b1 AS (SELECT CAST(round(spend * 100) AS BIGINT) AS cents FROM s1),
       b2 AS (SELECT CAST(round(spend * 100) AS BIGINT) AS cents FROM s2)
       SELECT version, band, n_customers, cents / 100.0 AS total_spend
       FROM (
         SELECT CAST(0 AS BIGINT) AS version, cents // 500000 AS band,
           count(*) AS n_customers, sum(cents) AS cents
         FROM b0 GROUP BY 1, 2
         UNION ALL
         SELECT CAST(1 AS BIGINT), cents // 500000,
           count(*), sum(cents) FROM b1 GROUP BY 1, 2
         UNION ALL
         SELECT CAST(2 AS BIGINT), cents // 500000,
           count(*), sum(cents) FROM b2 GROUP BY 1, 2)
       ORDER BY version, band"""

  /** v23 — BUCKET-PRUNED POINT SERVE through the versioned table's
    * Catalyst FileIndex (VersionedScan): the v20 lifecycle (base load
    * plus two 20-key correction merges), then a fixed 8-key serving
    * batch read DECLARATIVELY — `read(...).filter(isin(...))` — at
    * version 0 and at the final version. The IN list reaches
    * `VersionedFileIndex.listFiles` as pushed data filters, so each
    * serve reads ≤ 8 of the 64 buckets (≤ 8 files under merge's
    * one-file-per-bucket layout) at ANY table size — the reference's
    * per-key SQL point reads (mainTesting.py:99-115) as one pruned
    * scan, with no `lookup()` plumbing in the caller. The oracle
    * recomputes both versions' states relationally and applies the
    * same key filter, so it certifies that pruning loses no rows and
    * that time travel composes with it (the pruned file counts are
    * spec'd in VersionedScanSpec). */
  private def v23(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = graft.util.Scratch.fresh("v23_scan")
    val ord = Tables.orders(s, d)
    val t0 = ord.filter(year($"o_orderdate") <= 1997)
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"),
        count(lit(1)).as("n_orders"))
    val top40 = ord.filter(year($"o_orderdate") === 1998)
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"),
        count(lit(1)).as("n_orders"),
        (min($"o_orderpriority") === "1-URGENT").as("del"))
      .orderBy($"spend".desc, $"o_custkey").limit(40)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"spend".desc, $"o_custkey")))
    graft.sources.VersionedTable.merge(s, dir, t0, Seq("o_custkey"))
    graft.sources.VersionedTable.merge(s, dir,
      top40.filter($"rk" <= 20).drop("rk"), Seq("o_custkey"), Some("del"))
    graft.sources.VersionedTable.merge(s, dir,
      top40.filter($"rk" > 20).drop("rk"), Seq("o_custkey"), Some("del"))
    // fixed literal keys (custkeys 1.. exist at every SF; hash-typed
    // exactly as the table's int64 key so the index prunes)
    val serveKeys = Seq(1L, 2L, 4L, 5L, 7L, 10L, 13L, 17L)
    Seq(0L, 2L).map { v =>
      graft.sources.VersionedTable.read(s, dir, Some(v))
        .filter($"o_custkey".isin(serveKeys: _*))
        .select(lit(v).as("version"), $"o_custkey", $"spend", $"n_orders")
    }.reduce(_ unionByName _).orderBy($"version", $"o_custkey")
  }
  private val v23Sql =
    """WITH t0 AS (
         SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
           count(*) AS n_orders
         FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 1),
       ranked AS (
         SELECT o_custkey, spend, n_orders, del,
           row_number() OVER (ORDER BY spend DESC, o_custkey) AS rk
         FROM (
           SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
             count(*) AS n_orders,
             min(o_orderpriority) = '1-URGENT' AS del
           FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1)),
       u1 AS (SELECT * FROM ranked WHERE rk <= 20),
       u2 AS (SELECT * FROM ranked WHERE rk > 20 AND rk <= 40),
       s1 AS (
         SELECT o_custkey, spend, n_orders FROM t0
         WHERE o_custkey NOT IN (SELECT o_custkey FROM u1)
         UNION ALL
         SELECT o_custkey, spend, n_orders FROM u1 WHERE NOT del),
       s2 AS (
         SELECT o_custkey, spend, n_orders FROM s1
         WHERE o_custkey NOT IN (SELECT o_custkey FROM u2)
         UNION ALL
         SELECT o_custkey, spend, n_orders FROM u2 WHERE NOT del)
       SELECT version, o_custkey, spend, n_orders FROM (
         SELECT CAST(0 AS BIGINT) AS version, o_custkey, spend, n_orders
         FROM t0 WHERE o_custkey IN (1, 2, 4, 5, 7, 10, 13, 17)
         UNION ALL
         SELECT CAST(2 AS BIGINT), o_custkey, spend, n_orders
         FROM s2 WHERE o_custkey IN (1, 2, 4, 5, 7, 10, 13, 17))
       ORDER BY version, o_custkey"""

  /** v24 — versioned-table HISTORY audit under the gate: the full
    * lifecycle (creation, two correction merges, a clusterBy-sorted
    * compaction, an O(manifest) restore) read back through
    * `VersionedTable.history()` — manifest-only, no data files
    * touched. The oracle is a golden VALUES table (the p02 precedent):
    * the checked columns are exactly the SF-invariant manifest facts —
    * version sequence, layout, key set, schema width, and which
    * commit kinds carry a materialized feed (creation and restore do
    * NOT — their diffs are undefined/derived-only — while merges and
    * compaction DO, compaction's being the empty feed that keeps
    * multi-version changes() on the batch-sized path). A manifest
    * protocol regression — a restore that starts publishing, a
    * compact that loses its feed, a version gap — breaks the hash.
    * Bucket-attribution counts are deliberately NOT in the checked
    * row (they depend on which buckets the SF's top-20 keys hash to);
    * VersionedTableSpec pins those per-fixture. */
  private def v24(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = graft.util.Scratch.fresh("v24_hist")
    val ord = Tables.orders(s, d)
    val t0 = ord.filter(year($"o_orderdate") <= 1997)
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"),
        count(lit(1)).as("n_orders"))
    val top40 = ord.filter(year($"o_orderdate") === 1998)
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"),
        count(lit(1)).as("n_orders"),
        (min($"o_orderpriority") === "1-URGENT").as("del"))
      .orderBy($"spend".desc, $"o_custkey").limit(40)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"spend".desc, $"o_custkey")))
    graft.sources.VersionedTable.merge(s, dir, t0, Seq("o_custkey"))
    graft.sources.VersionedTable.merge(s, dir,
      top40.filter($"rk" <= 20).drop("rk"), Seq("o_custkey"), Some("del"))
    graft.sources.VersionedTable.merge(s, dir,
      top40.filter($"rk" > 20).drop("rk"), Seq("o_custkey"), Some("del"))
    graft.sources.VersionedTable.compact(s, dir, clusterBy = Seq("spend"))
    graft.sources.VersionedTable.restore(s, dir, 1L)
    graft.sources.VersionedTable.history(s, dir)
      .select($"version", $"num_buckets", $"key_cols", $"n_columns",
        $"has_feed")
      .orderBy($"version")
  }
  private val v24Sql =
    """SELECT CAST(version AS BIGINT) AS version,
         CAST(num_buckets AS INT) AS num_buckets, key_cols,
         CAST(n_columns AS INT) AS n_columns, has_feed
       FROM (VALUES
         (0, 64, 'o_custkey', 3, false),
         (1, 64, 'o_custkey', 3, true),
         (2, 64, 'o_custkey', 3, true),
         (3, 64, 'o_custkey', 3, true),
         (4, 64, 'o_custkey', 3, false))
         AS t(version, num_buckets, key_cols, n_columns, has_feed)
       ORDER BY version"""

  /** v25 — MERGE-ON-READ under the oracle gate: the v20 lifecycle with
    * the two correction merges written as DELTA LAYERS (`mor = true` —
    * owners never move, write cost is the batch), then the full
    * MoR surface exercised and checked against the COW result:
    * version 2 reads through TWO stacked delta layers (newest wins,
    * tombstones drop), a `compact` folds the layers into version 3,
    * and both reads must equal what copy-on-write would have produced
    * — the oracle IS v20's relational recompute, emitted for both
    * versions. `changes(1,2)` rides the same materialized-feed path as
    * COW (spec'd in VersionedTableSpec); the write-amplification
    * numbers behind choosing MoR for scattered batches are in
    * study_r10.json `cow_write_amplification`. */
  private def v25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = graft.util.Scratch.fresh("v25_mor")
    val ord = Tables.orders(s, d)
    val t0 = ord.filter(year($"o_orderdate") <= 1997)
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"),
        count(lit(1)).as("n_orders"))
    val top40 = ord.filter(year($"o_orderdate") === 1998)
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("spend"),
        count(lit(1)).as("n_orders"),
        (min($"o_orderpriority") === "1-URGENT").as("del"))
      .orderBy($"spend".desc, $"o_custkey").limit(40)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"spend".desc, $"o_custkey")))
    graft.sources.VersionedTable.merge(s, dir, t0, Seq("o_custkey"))
    graft.sources.VersionedTable.merge(s, dir,
      top40.filter($"rk" <= 20).drop("rk"), Seq("o_custkey"), Some("del"),
      mor = true)
    graft.sources.VersionedTable.merge(s, dir,
      top40.filter($"rk" > 20).drop("rk"), Seq("o_custkey"), Some("del"),
      mor = true)
    val atV2 = graft.sources.VersionedTable.read(s, dir, Some(2L))
      .select(lit(2L).as("version"), $"o_custkey", $"spend", $"n_orders")
    graft.sources.VersionedTable.compact(s, dir) // folds both layers → v3
    val atV3 = graft.sources.VersionedTable.read(s, dir, Some(3L))
      .select(lit(3L).as("version"), $"o_custkey", $"spend", $"n_orders")
    atV2.unionByName(atV3).orderBy($"version", $"o_custkey")
  }
  private val v25Sql =
    """WITH t0 AS (
         SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
           count(*) AS n_orders
         FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 1),
       ranked AS (
         SELECT o_custkey, spend, n_orders, del,
           row_number() OVER (ORDER BY spend DESC, o_custkey) AS rk
         FROM (
           SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
             count(*) AS n_orders,
             min(o_orderpriority) = '1-URGENT' AS del
           FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1)),
       u1 AS (SELECT * FROM ranked WHERE rk <= 20),
       u2 AS (SELECT * FROM ranked WHERE rk > 20 AND rk <= 40),
       s1 AS (
         SELECT o_custkey, spend, n_orders FROM t0
         WHERE o_custkey NOT IN (SELECT o_custkey FROM u1)
         UNION ALL
         SELECT o_custkey, spend, n_orders FROM u1 WHERE NOT del),
       s2 AS (
         SELECT o_custkey, spend, n_orders FROM s1
         WHERE o_custkey NOT IN (SELECT o_custkey FROM u2)
         UNION ALL
         SELECT o_custkey, spend, n_orders FROM u2 WHERE NOT del)
       SELECT CAST(2 AS BIGINT) AS version, o_custkey, spend, n_orders FROM s2
       UNION ALL
       SELECT CAST(3 AS BIGINT), o_custkey, spend, n_orders FROM s2
       ORDER BY version, o_custkey"""

  /** v26 — DATA SKIPPING end-to-end: orders land in a versioned table,
    * a chunked clusterBy(o_orderdate) compact splits every bucket into
    * range-disjoint files with manifest min/max stats, and a quarter
    * range scan aggregates through the pruned FileIndex. The ORACLE
    * certifies the rows (skipping must be invisible in the result);
    * the in-code require certifies the PRUNING — the ranged scan must
    * read strictly fewer files than the table holds, so a silently
    * broken stats path fails the gate instead of degrading. */
  private def v26(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = graft.util.Scratch.fresh("v26_skip")
    val ord = Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_totalprice")
    graft.sources.VersionedTable.merge(s, dir, ord, Seq("o_orderkey"),
      numBuckets = 8)
    graft.sources.VersionedTable.compact(s, dir,
      clusterBy = Seq("o_orderdate"), chunksPerBucket = 4)
    def ranged = graft.sources.VersionedTable.read(s, dir)
      .filter($"o_orderdate" >= lit(java.sql.Date.valueOf("1995-01-01")) &&
        $"o_orderdate" < lit(java.sql.Date.valueOf("1995-07-01")))
    // prove the skip: executed-plan file counts, full scan vs ranged
    val total = graft.util.PlanMetrics.filesRead(
      graft.sources.VersionedTable.read(s, dir))
    val read = graft.util.PlanMetrics.filesRead(ranged.select($"o_orderkey"))
    require(read < total,
      s"data skipping read $read of $total files — stats pruning is broken")
    ranged
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate"))
        .cast("bigint").as("ym")) // DuckDB's year() is BIGINT; match it
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("revenue"))
      .orderBy($"ym")
  }
  private val v26Sql =
    """SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
         count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
       FROM orders
       WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'
       GROUP BY 1 ORDER BY ym"""

  /** v27 — STRING data skipping end-to-end: customers land in a
    * versioned table, a chunked clusterBy(c_name) compact records
    * truncated byte-ordered min/max per chunk file, and a name-range
    * scan (the reference's ticker/issuer-code filter shape,
    * mainTesting.py:365-369) aggregates through the pruned FileIndex.
    * Oracle certifies rows; the in-code require certifies PRUNING —
    * string predicates that silently stop skipping fail the gate. */
  private def v27(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = graft.util.Scratch.fresh("v27_strskip")
    val cust = Tables.customer(s, d)
      .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal")
    graft.sources.VersionedTable.merge(s, dir, cust, Seq("c_custkey"),
      numBuckets = 8)
    graft.sources.VersionedTable.compact(s, dir,
      clusterBy = Seq("c_name"), chunksPerBucket = 4)
    def ranged = graft.sources.VersionedTable.read(s, dir)
      .filter($"c_name" >= "Customer#000000100" &&
        $"c_name" < "Customer#000000140")
    val total = graft.util.PlanMetrics.filesRead(
      graft.sources.VersionedTable.read(s, dir))
    val read = graft.util.PlanMetrics.filesRead(ranged.select($"c_custkey"))
    require(read < total,
      s"string skipping read $read of $total files — string stats broken")
    // exact-integer aggregate (cents), not round(avg(..)): a half-cent
    // tie rounds differently across engines (hit at sf0.1: 8523.175)
    ranged
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_cust"),
        sum(round($"c_acctbal" * 100).cast("long")).as("sum_bal_cents"))
      .orderBy($"c_nationkey")
  }
  private val v27Sql =
    """SELECT c_nationkey, count(*) AS n_cust,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_cents
       FROM customer
       WHERE c_name >= 'Customer#000000100' AND c_name < 'Customer#000000140'
       GROUP BY 1 ORDER BY c_nationkey"""

  val queries: Map[String, QueryFn] = Map(
    "v27_string_skipping" -> v27 _,
    "v26_data_skipping" -> v26 _,
    "v25_merge_on_read" -> v25 _,
    "v24_table_history" -> v24 _,
    "v23_indexed_scan" -> v23 _,
    "v22_view_maintenance" -> v22 _,
    "v21_change_feed" -> v21 _,
    "v20_time_travel" -> v20 _,
    "v19_merge_parquet" -> v19 _,
    "v18_quality_constraints" -> v18 _,
    "v17_compaction_plan" -> v17 _,
    "v16_cdc_compaction" -> v16 _,
    "v15_countmin_topk" -> v15 _,
    "v14_scd2_dimension" -> v14 _,
    "v13_approx_percentile" -> v13 _,
    "v12_incremental_agg" -> v12 _,
    "v01_percentiles" -> v01 _,
    "v10_topk_custom_plan" -> v10 _,
    "v11_source_catalog" -> v11 _,
    "v02_stats_agg" -> v02 _,
    "v03_argmax_struct" -> v03 _,
    "v04_grouping_sets" -> v04 _,
    "v05_topk_aggregator" -> v05 _,
    "v06_upsert_merge" -> v06 _,
    "v07_source_discovery" -> v07 _,
    "v08_drop_null_rows" -> v08 _,
    "v09_approx_distinct" -> v09 _,
  )

  val oracle: Map[String, String] = Map(
    "v27_string_skipping" -> v27Sql,
    "v26_data_skipping" -> v26Sql,
    "v25_merge_on_read" -> v25Sql,
    "v24_table_history" -> v24Sql,
    "v23_indexed_scan" -> v23Sql,
    "v22_view_maintenance" -> v22Sql,
    "v21_change_feed" -> v21Sql,
    "v20_time_travel" -> v20Sql,
    "v19_merge_parquet" -> v19Sql,
    "v18_quality_constraints" -> v18Sql,
    "v17_compaction_plan" -> v17Sql,
    "v16_cdc_compaction" -> v16Sql,
    "v15_countmin_topk" -> v15Sql,
    "v14_scd2_dimension" -> v14Sql,
    "v13_approx_percentile" -> v13Sql,
    "v12_incremental_agg" -> v12Sql,
    "v01_percentiles" -> v01Sql,
    "v10_topk_custom_plan" -> v05Sql,
    "v11_source_catalog" -> v11Sql,
    "v02_stats_agg" -> v02Sql,
    "v03_argmax_struct" -> v03Sql,
    "v04_grouping_sets" -> v04Sql,
    "v05_topk_aggregator" -> v05Sql,
    "v06_upsert_merge" -> v06Sql,
    "v07_source_discovery" -> v07Sql,
    "v08_drop_null_rows" -> v08Sql,
    "v09_approx_distinct" -> v09Sql,
  )
}
