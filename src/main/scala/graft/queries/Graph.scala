package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Graph analytics over relationship structure derived from the fact
  * tables — the "who matters in this network" layer (influence ranking
  * over the customer↔supplier trading graph).
  *
  * Scale design: the one corpus-scale operation is the graph BUILD — a
  * single join+aggregate pass that collapses the lineitem fact table to
  * a weighted edge list of dimension-table cardinality. Everything
  * iterative then runs on that aggregated graph: edges are persisted
  * once, hash-partitioned by src, so every power-iteration join reuses
  * the cached partitioning and only the node-sized rank table moves.
  * At 100 TB the iterations cost |edges| ≪ |lineitem| regardless of
  * iteration count, and nothing ever reaches the driver — except the
  * co-trading adjacency, whose driver bound `graft.ext.SetOverlap`'s
  * scaladoc states.
  *
  * Determinism: ranks are kept in integer micro-units (1e6 = mass 1.0)
  * and every step is BIGINT multiply / integer-divide / sum — exact and
  * summation-order-independent, so Spark and DuckDB agree bit-for-bit
  * after five iterations where a double formulation would drift ulps
  * per iteration and diverge under different partition orders (the
  * float-safety rule the rest of the oracle gate follows).
  */
object Graph extends QueryModule {

  /** Gate-sized deterministic order without orderBy's range-sampling
    * job re-executing the unpersisted DAG (same rationale as
    * Dedup.sortedSmall). For COMPONENT/ROLLUP-sized results only
    * (g02/g04: one row per community), where one partition is the
    * right plan at any scale. */
  private def sortedSmall(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** Deterministic total order for PER-NODE outputs (g01/g05/g06: one
    * row per node — node-table-sized, which at 100× does NOT fit one
    * task): a plain orderBy, i.e. a range exchange that spreads the
    * sort across the cluster (the w09 discipline). The range-sampling
    * job is affordable here because every input is a persisted
    * iteration slot or a cheap derivation of one, so sampling re-reads
    * cache instead of re-running the iteration DAG. */
  private def sortedWide(df: DataFrame, cols: Column*): DataFrame =
    df.orderBy(cols: _*)

  /** The ITERATION slots are the load-bearing ones here: each
    * power/propagation round broadcasts the previous round's node table,
    * and an unpersisted broadcast side re-executes its whole lineage —
    * iteration k would re-run iterations 1..k-1, so a 5-round loop costs
    * 15 round-units instead of 5 (measured: g01 76 s CPU → 29 s with
    * per-round persistence). */
  private val slots = new graft.util.PersistSlots

  /** g01 — weighted PageRank over the customer↔supplier bipartite
    * trading graph. Edge weight = lineitem count between the pair,
    * symmetrized (both directions) so every node has out-degree > 0 and
    * receives mass — no dangling-mass correction needed, by
    * construction. Five damped power iterations, d = 0.85:
    * r'(v) = 150000 + (85 * Σ_{(u,v)} (r(u)·w) div ow(u)) div 100,
    * starting from 1e6 micro-units per node. Node ids pack kind+key
    * into one BIGINT (2k for customers, 2k+1 for suppliers) so the
    * whole iteration joins on a single integer column.
    */
  private def g01(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // pairs is referenced by BOTH unionAll branches below; unpersisted,
    // each branch re-ran the whole lineitem⨝orders + groupBy (two full
    // fact scans + two (c,s) exchanges, verified in the r15 before-plan
    // plans/r15/g01_pagerank_before.txt). One cache, both branches read
    // blocks (guide §2.4: remove shuffles/passes outright).
    val pairs = slots.swap("g01pairs", Tables.lineitem(s, d)
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey".as("c"), $"l_suppkey".as("s"))
      .agg(count(lit(1)).as("w")))
    val edges = pairs.select(($"c" * 2).as("src"), ($"s" * 2 + 1).as("dst"), $"w")
      .unionAll(pairs.select(($"s" * 2 + 1).as("src"), ($"c" * 2).as("dst"), $"w"))
    // outw is NODE-sized (|C|+|S| ≪ |edges|) and read TWICE (the edge
    // annotation broadcast below + the initial rank table): one cache,
    // one aggregation pass — and since its src set IS the distinct node
    // set by construction, r0 derives from it for free instead of
    // paying a distinct() exchange over the 1.17M-row edge cache.
    // MEASURED NEGATIVE RESULT — do not rewrite this aggregate with
    // Dataset.groupingSets to save the second pairs-cache scan: the
    // grouping-sets plan broke CacheManager plan matching for every
    // cache built OVER it (outw, the edge cache, each round's rank
    // table) — iterations re-derived pairs/outw/e from parquet each
    // round, g01 went 6.7 → 30.7 s cold / 4.9 → 20.6 s warm before the
    // bisect isolated it.
    val outw = slots.swap("g01outw",
      edges.groupBy($"src").agg(sum($"w").as("ow")))
    // The edge cache is hash-partitioned by dst ONCE at build time
    // (guide §2.4: operations keyed the same way share one exchange):
    // every iteration below is a broadcast probe (no shuffle) followed
    // by groupBy(dst) — with the cache already clustered on dst, the
    // per-iteration aggregation needs NO Exchange at all, where the
    // r15 shape shuffled ~360k partial-agg rows per round (measured,
    // PROFILE_STAGES rep1: five 64-task probe stages each writing
    // 360,886 partials + five 2-task final-agg stages — all gone).
    // broadcast(outw): node-sized annotation join, never a shuffle of
    // the edge table (r15's C3 rationale, unchanged).
    val e = slots.swap("edges", edges.join(broadcast(outw), "src")
      .repartition($"dst"))
    // pairs was only needed until e materialized (swap's eager count
    // above guarantees it has): release it now instead of pinning
    // storage memory for the session's remainder (r15 advisor), where it
    // competed with every later query's iteration caches
    slots.release("g01pairs")
    var ranks = outw.select($"src".as("node"))
      .withColumn("r", lit(1000000L))
    for (i <- 1 to 5) {
      // The rank table is node-sized (|C|+|S|, orders smaller than the
      // edge list) — BROADCAST it so each iteration is one map-side
      // hash probe over the cached edges plus an in-stage aggregation
      // over the cache's dst-clustered partitions. The planner left to
      // itself picks a sort-merge join here (post-groupBy stats are
      // unknown), which re-sorted the full edge table EVERY iteration —
      // measured 12 s CPU/iteration vs ~2 s broadcast. At a scale where
      // even the node table outgrows broadcast, switch to
      // pre-partitioning both sides on the join key instead.
      // groupBy(e("dst")) — the RAW cache column, aliased only in the
      // post-agg select: grouping on an alias would hide the child's
      // hashpartitioning(dst) from EnsureRequirements and reinstate the
      // per-round exchange this layout exists to remove.
      // persist EACH round's node-sized table: the next round's
      // broadcast otherwise re-executes the whole iteration lineage
      // (see `slots`) — alternating slots so round k's build can still
      // read round k-1's cache before releasing it
      ranks = slots.swap(s"g01r${i % 2}",
        e.join(broadcast(ranks), e("src") === ranks("node"))
          .groupBy(e("dst"))
          .agg(expr("150000 + (85 * sum((r * w) div ow)) div 100").cast("long").as("r"))
          .select($"dst".as("node"), $"r"))
    }
    sortedWide(
      ranks.select(
        when($"node" % 2 === 0, "customer").otherwise("supplier").as("kind"),
        expr("node div 2").as("key"),
        $"r".as("rank")),
      $"rank".desc, $"kind", $"key")
  }
  private val g01Sql =
    """WITH pairs AS (
         SELECT o_custkey AS c, l_suppkey AS s, count(*) AS w
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1, 2),
       edges AS (
         SELECT 2*c AS src, 2*s+1 AS dst, w FROM pairs
         UNION ALL
         SELECT 2*s+1 AS src, 2*c AS dst, w FROM pairs),
       e AS (
         SELECT src, dst, w,
           CAST(sum(w) OVER (PARTITION BY src) AS BIGINT) AS ow FROM edges),
       r0 AS (
         SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS r FROM edges),
       r1 AS (SELECT dst AS node,
                CAST(150000 + (85 * sum((r * w) // ow)) // 100 AS BIGINT) AS r
              FROM e JOIN r0 ON e.src = r0.node GROUP BY dst),
       r2 AS (SELECT dst AS node,
                CAST(150000 + (85 * sum((r * w) // ow)) // 100 AS BIGINT) AS r
              FROM e JOIN r1 ON e.src = r1.node GROUP BY dst),
       r3 AS (SELECT dst AS node,
                CAST(150000 + (85 * sum((r * w) // ow)) // 100 AS BIGINT) AS r
              FROM e JOIN r2 ON e.src = r2.node GROUP BY dst),
       r4 AS (SELECT dst AS node,
                CAST(150000 + (85 * sum((r * w) // ow)) // 100 AS BIGINT) AS r
              FROM e JOIN r3 ON e.src = r3.node GROUP BY dst),
       r5 AS (SELECT dst AS node,
                CAST(150000 + (85 * sum((r * w) // ow)) // 100 AS BIGINT) AS r
              FROM e JOIN r4 ON e.src = r4.node GROUP BY dst)
       SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         node // 2 AS key, r AS rank
       FROM r5 ORDER BY rank DESC, kind, key"""

  /** g02 — trading COMMUNITIES: connected components over the
    * strong-relationship subgraph (customer↔supplier pairs with >= 4
    * lineitems — the weight floor that fragments the near-complete
    * bipartite graph into real repeat-trade clusters). Labels come from
    * the public `Dedup.connectedComponents` operator (hierarchical
    * union-find, one job — the d07 clustering core applied to a
    * relational graph), so this query puts the graph-family public API
    * under the DuckDB gate on a second, independently-derived edge set.
    * Output: one row per component — representative (min node, decoded
    * back to kind/key), node count, and the customer/supplier split.
    * Scale: the edge build is one join + count aggregate; the weight
    * floor is a HAVING pushed before anything graph-shaped runs, so the
    * component stage only ever sees the (sparse) strong subgraph. */
  private def g02(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey".as("c"), $"l_suppkey".as("s"))
      .agg(count(lit(1)).as("w"))
      .filter($"w" >= 4)
    val edges = pairs.select(($"c" * 2).as("src"), ($"s" * 2 + 1).as("dst"))
    val lab = graft.ext.Dedup.connectedComponents(edges, $"src", $"dst")
    sortedSmall(
      lab.groupBy($"lbl")
        .agg(count(lit(1)).as("n_nodes"),
          sum(($"node" % 2 === 0).cast("long")).as("n_customers"),
          sum(($"node" % 2 === 1).cast("long")).as("n_suppliers"))
        .select(
          when($"lbl" % 2 === 0, "customer").otherwise("supplier").as("rep_kind"),
          expr("lbl div 2").as("rep_key"),
          $"n_nodes", $"n_customers", $"n_suppliers"),
      $"n_nodes".desc, $"rep_kind", $"rep_key")
  }
  private val g02Sql =
    """WITH RECURSIVE pairs AS (
         SELECT o_custkey AS c, l_suppkey AS s, count(*) AS w
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1, 2 HAVING count(*) >= 4),
       edges AS (
         SELECT 2*c AS src, 2*s+1 AS dst FROM pairs
         UNION ALL SELECT 2*s+1, 2*c FROM pairs),
       reach(node, lbl) AS (
         SELECT DISTINCT src, src FROM edges
         UNION
         SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
       labels AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node)
       SELECT CASE WHEN lbl % 2 = 0 THEN 'customer' ELSE 'supplier' END AS rep_kind,
         lbl // 2 AS rep_key,
         count(*) AS n_nodes,
         CAST(sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
         CAST(sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers
       FROM labels GROUP BY lbl
       ORDER BY n_nodes DESC, rep_kind, rep_key"""

  /** The 5-NN edge set of the corpus at `d`, a derived artifact shared by
    * g03/g04/g05: its build reads the whole fact table, while its output
    * is dimension-sized (~3.6k edges at sf0.1, ~36k at sf1). An in-memory
    * slot alone shares it only until a cache clear between queries (the
    * bench isolates per-query timings that way). */
  private def coTradingEdges(s: SparkSession, d: String): DataFrame = {
    val path = graft.util.Scratch.derived(s, "cograph", d,
        Seq("lineitem", "orders").map(Tables.path(d, _))) { out =>
      buildCoTradingEdges(Tables.lineitem(s, d), Tables.orders(s, d))(
        _.write.parquet(out))
    }
    slots.swap("coedges", s.read.parquet(path))
  }

  /** Undirected 5-NN co-trading edges `(a, b)`, a < b: each supplier
    * keeps its 5 co-suppliers with the most shared customers (ties by
    * smaller key), over the distinct non-null (o_custkey, l_suppkey)
    * pairs of lineitem ⨝ orders. `use` runs on the edge set while the
    * build's broadcast is alive; the broadcast is destroyed when it
    * returns, so `use` must consume the edges (write, collect), not
    * return them lazily.
    *
    * The build never materializes the supplier-pair space: one
    * collect_set shuffle of the fact join groups each supplier's
    * distinct customers, the driver collects those lists, and
    * [[graft.ext.SetOverlap]] counts each supplier's co-customers into a
    * dense per-task array (customers as tokens, suppliers as entities;
    * its scaladoc states the work, broadcast and driver bounds, and the
    * LongMap kernel not to retry). The emit rule keeps the top 5 by
    * (shared desc, s2 asc) without s1 itself, as `(least, greatest)`;
    * then `distinct`. The declarative form it replaces (half self-join
    * on `a.sup < b.sup`, mirror, TopKPerKey) aggregated 12.5M half pairs
    * into 499,500 keys at sf0.1; GraphSpec keeps it as the parity
    * oracle. */
  private[graft] def buildCoTradingEdges[T](lineitem: DataFrame,
      orders: DataFrame)(use: DataFrame => T): T = {
    val s = lineitem.sparkSession
    import s.implicits._
    val keyType = lineitem.schema("l_suppkey").dataType
    val bySup = lineitem.join(orders, $"l_orderkey" === $"o_orderkey")
      .where($"o_custkey".isNotNull && $"l_suppkey".isNotNull)
      .groupBy($"l_suppkey".cast("long"))
      .agg(collect_set($"o_custkey".cast("long")))
      .as[(Long, Array[Long])].collect()
    graft.ext.SetOverlap.overlaps(s, bySup)(top5) { top =>
      use(top.toDF("a", "b").distinct()
        .select($"a".cast(keyType).as("a"), $"b".cast(keyType).as("b")))
    }
  }

  /** g03's emit rule: supplier `s1`'s 5 co-suppliers with the most
    * shared customers, ties by smaller index (= smaller key), as
    * `(least, greatest)` key pairs. */
  private val top5: graft.ext.SetOverlap.Emit[(Long, Long)] = { (a, s1, js, ns, m) =>
    val k = 5
    val best = new Array[Int](k)
    val bestN = new Array[Int](k)
    // insertion into best/bestN, ordered by (shared desc, index asc)
    var n = 0
    var i = 0
    while (i < m) {
      val s2 = js(i)
      val c = ns(i)
      def before(p: Int) = c > bestN(p) || (c == bestN(p) && s2 < best(p))
      if (s2 != s1 && (n < k || before(k - 1))) {
        var p = if (n < k) { n += 1; n - 1 } else k - 1
        while (p > 0 && before(p - 1)) {
          best(p) = best(p - 1)
          bestN(p) = bestN(p - 1)
          p -= 1
        }
        best(p) = s2
        bestN(p) = c
      }
      i += 1
    }
    Seq.tabulate(n)(p => (a.keys(math.min(s1, best(p))), a.keys(math.max(s1, best(p)))))
  }

  /** g03 — TRIANGLE COUNT + global clustering coefficient over the
    * supplier co-trading 5-NN graph (`coTradingEdges`): suppliers are
    * linked when they serve common customers, and each keeps only its 5
    * strongest co-suppliers — the kNN-graph construction that bounds
    * every node's degree by design, which is exactly what makes
    * triangle counting tractable at scale (the 3-way edge join's
    * fan-out is degree-bounded, never hub-quadratic; on a graph with
    * unbounded degrees you'd orient edges low→high degree first for
    * the same effect). Triangles: edges oriented a<b, wedge join on
    * the shared middle node, closing-edge semi-check — each triangle
    * counted exactly once because a<b<c holds along the chain. Wedge
    * count Σ d(d-1)/2 and 3·tri/wedges stay in integer arithmetic
    * until the single final division, so both engines agree exactly.
    */
  private def g03(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = coTradingEdges(s, d)
    val deg = edges.select($"a".as("n")).unionAll(edges.select($"b".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("dg"))
    val wedges = deg.agg(sum(expr("dg * (dg - 1) div 2")).as("n_wedges"),
      count(lit(1)).as("n_nodes"))
    // edges is node-degree-sized (5-NN): broadcast both join sides so
    // the wedge enumeration and the closing-edge check are map-side
    val tri = edges.as("e1")
      .join(broadcast(edges.as("e2")), $"e1.b" === $"e2.a")
      .join(broadcast(edges.as("e3")),
        $"e3.a" === $"e1.a" && $"e3.b" === $"e2.b")
      .agg(count(lit(1)).as("n_triangles"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    wedges.crossJoin(broadcast(nEdges)).crossJoin(broadcast(tri))
      .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles",
        round(lit(3.0) * $"n_triangles" / $"n_wedges", 6).as("clustering"))
  }
  private val g03Sql =
    """WITH pairs AS (
         SELECT o_custkey AS c, l_suppkey AS sup
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
       co AS MATERIALIZED (
         SELECT a.sup AS s1, b.sup AS s2, count(*) AS shared
         FROM pairs a JOIN pairs b ON a.c = b.c AND a.sup <> b.sup
         GROUP BY 1, 2),
       ranked AS (
         SELECT s1, s2, row_number() OVER (
           PARTITION BY s1 ORDER BY shared DESC, s2) AS rk FROM co),
       edges AS MATERIALIZED (
         SELECT DISTINCT least(s1, s2) AS a, greatest(s1, s2) AS b
         FROM ranked WHERE rk <= 5),
       deg AS (SELECT n, count(*) AS dg
               FROM (SELECT a AS n FROM edges UNION ALL SELECT b FROM edges)
               GROUP BY n),
       tri AS (SELECT e1.a FROM edges e1
               JOIN edges e2 ON e1.b = e2.a
               JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b)
       SELECT (SELECT count(*) FROM deg) AS n_nodes,
         (SELECT count(*) FROM edges) AS n_edges,
         (SELECT CAST(sum((dg * (dg - 1)) // 2) AS BIGINT) FROM deg) AS n_wedges,
         (SELECT count(*) FROM tri) AS n_triangles,
         round(3.0 * (SELECT count(*) FROM tri) /
               (SELECT CAST(sum((dg * (dg - 1)) // 2) AS BIGINT) FROM deg),
           6) AS clustering"""

  /** g04 — LABEL PROPAGATION communities over the supplier co-trading
    * 5-NN graph (g03's edge set): three synchronous rounds where every
    * node adopts its neighbors' MOST FREQUENT label, ties broken by
    * smallest label — the classic near-linear community detector, and
    * a different decomposition than g02's connectivity (LPA subdivides
    * dense components along neighborhood structure). Determinism:
    * synchronous rounds (all nodes update from the same snapshot) plus
    * the total tie-break order make every round a pure function of the
    * previous labeling, so the unrolled DuckDB oracle agrees exactly.
    * Scale: each round is one join of the degree-bounded edge list to
    * the node-sized label table plus a (node, label) count — the same
    * per-iteration cost envelope as g01, with the label table
    * broadcast while node counts allow and hash-partitioned beyond.
    */
  private def g04(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val und = coTradingEdges(s, d)
    // both directions so each node sees its full neighborhood
    val edges = slots.swap("edges",
      und.select($"a".as("src"), $"b".as("dst"))
        .unionAll(und.select($"b".as("src"), $"a".as("dst"))))
    var lbl = edges.select($"src".as("node")).distinct()
      .withColumn("lbl", $"node")
    for (i <- 1 to 3) {
      val counts = edges.join(broadcast(lbl), edges("dst") === lbl("node"))
        .groupBy(edges("src").as("n"), $"lbl")
        .agg(count(lit(1)).as("cnt"))
      // per-round persistence, same reason as g01's iteration slots
      lbl = slots.swap(s"g04l${i % 2}", graft.plans.TopKPerKey.topKPerKey(
        counts, 1, Seq($"n"), Seq($"cnt".desc, $"lbl"))
        .select($"n".as("node"), $"lbl"))
    }
    sortedSmall(
      lbl.groupBy($"lbl".as("community")).agg(count(lit(1)).as("n_members")),
      $"n_members".desc, $"community")
  }
  private val g04Sql =
    """WITH pairs AS (
         SELECT o_custkey AS c, l_suppkey AS sup
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
       co AS MATERIALIZED (
         SELECT a.sup AS s1, b.sup AS s2, count(*) AS shared
         FROM pairs a JOIN pairs b ON a.c = b.c AND a.sup <> b.sup
         GROUP BY 1, 2),
       ranked AS (
         SELECT s1, s2, row_number() OVER (
           PARTITION BY s1 ORDER BY shared DESC, s2) AS rk FROM co),
       und AS MATERIALIZED (
         SELECT DISTINCT least(s1, s2) AS a, greatest(s1, s2) AS b
         FROM ranked WHERE rk <= 5),
       edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
                 UNION ALL SELECT b, a FROM und),
       l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
       l1 AS (SELECT node, lbl FROM (
                SELECT e.src AS node, l.lbl,
                  row_number() OVER (PARTITION BY e.src
                    ORDER BY count(*) DESC, l.lbl) AS rn
                FROM edges e JOIN l0 l ON e.dst = l.node
                GROUP BY e.src, l.lbl) WHERE rn = 1),
       l2 AS (SELECT node, lbl FROM (
                SELECT e.src AS node, l.lbl,
                  row_number() OVER (PARTITION BY e.src
                    ORDER BY count(*) DESC, l.lbl) AS rn
                FROM edges e JOIN l1 l ON e.dst = l.node
                GROUP BY e.src, l.lbl) WHERE rn = 1),
       l3 AS (SELECT node, lbl FROM (
                SELECT e.src AS node, l.lbl,
                  row_number() OVER (PARTITION BY e.src
                    ORDER BY count(*) DESC, l.lbl) AS rn
                FROM edges e JOIN l2 l ON e.dst = l.node
                GROUP BY e.src, l.lbl) WHERE rn = 1)
       SELECT lbl AS community, count(*) AS n_members
       FROM l3 GROUP BY lbl ORDER BY n_members DESC, community"""

  /** g05 — K-HOP REACHABILITY (frontier BFS) over the supplier
    * co-trading 5-NN graph: from a deterministic seed set (every 50th
    * supplier id present in the graph), how many suppliers are within
    * 1, 2, 3 hops — the "blast radius" question behind supply-chain
    * risk and influence-propagation analyses. Frontier form: each round
    * joins ONLY the new frontier (not the whole visited set) to the
    * degree-bounded edge list, anti-joins the visited set, and tags the
    * hop level — so per-round cost is |frontier|·k̄, and the visited
    * table is the only thing that grows. That is the textbook
    * distributed BFS shape: at 100 TB the edge list is hash-partitioned
    * once (persisted here), frontiers are node-sized and broadcast while
    * they fit, and hop count bounds total work regardless of graph
    * diameter. Output: per-hop node counts plus per-node min-hop rows
    * for the seed-reachable subgraph (gate-sized by the 5-NN degree
    * bound). Determinism: min-hop is unique per node (BFS level), no
    * ties to break.
    */
  private def g05(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val und = coTradingEdges(s, d)
    val edges = slots.swap("g05e",
      und.select($"a".as("src"), $"b".as("dst"))
        .unionAll(und.select($"b".as("src"), $"a".as("dst"))))
    val nodes = edges.select($"src".as("node")).distinct()
    // UNIQUE slot per level (not alternating): the visited union below
    // references every previous frontier, so releasing level k-2 when
    // level k materializes would force its broadcast to re-derive the
    // whole BFS lineage; three node-sized caches are trivial memory
    var frontier = slots.swap("g05f0",
      nodes.filter($"node" % 50 === 0).withColumn("hops", lit(0L)))
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    for (i <- 1 to 3) {
      // neighbors of the CURRENT frontier only, minus everything seen:
      // left_anti on the visited union keeps each node's FIRST
      // (minimal) level; the union reads only cached levels
      val visited = levels.map(_.select($"node")).reduce(_ unionAll _)
      frontier = slots.swap(s"g05f$i",
        edges.join(broadcast(frontier.select($"node")),
            edges("src") === col("node"))
          .select($"dst".as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .withColumn("hops", lit(i.toLong)))
      levels += frontier
    }
    sortedWide(levels.reduce(_ unionAll _), $"hops", $"node")
  }
  private val g05Sql =
    """WITH pairs AS (
         SELECT o_custkey AS c, l_suppkey AS sup
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
       co AS MATERIALIZED (
         SELECT a.sup AS s1, b.sup AS s2, count(*) AS shared
         FROM pairs a JOIN pairs b ON a.c = b.c AND a.sup <> b.sup
         GROUP BY 1, 2),
       ranked AS (
         SELECT s1, s2, row_number() OVER (
           PARTITION BY s1 ORDER BY shared DESC, s2) AS rk FROM co),
       und AS MATERIALIZED (
         SELECT DISTINCT least(s1, s2) AS a, greatest(s1, s2) AS b
         FROM ranked WHERE rk <= 5),
       edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
                 UNION ALL SELECT b, a FROM und),
       f0 AS (SELECT DISTINCT src AS node FROM edges WHERE src % 50 = 0),
       f1 AS (SELECT DISTINCT e.dst AS node FROM edges e
              JOIN f0 ON e.src = f0.node
              WHERE e.dst NOT IN (SELECT node FROM f0)),
       f2 AS (SELECT DISTINCT e.dst AS node FROM edges e
              JOIN f1 ON e.src = f1.node
              WHERE e.dst NOT IN (SELECT node FROM f0)
                AND e.dst NOT IN (SELECT node FROM f1)),
       f3 AS (SELECT DISTINCT e.dst AS node FROM edges e
              JOIN f2 ON e.src = f2.node
              WHERE e.dst NOT IN (SELECT node FROM f0)
                AND e.dst NOT IN (SELECT node FROM f1)
                AND e.dst NOT IN (SELECT node FROM f2))
       SELECT node, hops FROM (
         SELECT node, CAST(0 AS BIGINT) AS hops FROM f0
         UNION ALL SELECT node, 1 FROM f1
         UNION ALL SELECT node, 2 FROM f2
         UNION ALL SELECT node, 3 FROM f3)
       ORDER BY hops, node"""

  /** g06 — components via LARGE-STAR/SMALL-STAR rounds (the published
    * MapReduce CC algorithm; `Dedup.starComponents`) on g02's strong
    * subgraph, emitting per-NODE membership rows — the same labels the
    * union-find path produces (GraphSpec asserts equality), certified
    * here by an independent recursive-CTE oracle. This is the path to
    * run when single-component node sets outgrow one task: each round
    * is two edge-sized shuffles and per-task memory is O(1) in
    * component size. */
  private def g06(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey".as("c"), $"l_suppkey".as("sup"))
      .agg(count(lit(1)).as("w"))
      .filter($"w" >= 4)
    val edges = pairs.select(($"c" * 2).as("src"), ($"sup" * 2 + 1).as("dst"))
    val lab = graft.ext.Dedup.starComponents(edges, $"src", $"dst")
    val sizes = lab.groupBy($"lbl").agg(count(lit(1)).as("n_nodes"))
    sortedWide(
      lab.join(sizes, "lbl").select(
        when($"node" % 2 === 0, "customer").otherwise("supplier").as("kind"),
        expr("node div 2").as("key"),
        when($"lbl" % 2 === 0, "customer").otherwise("supplier").as("rep_kind"),
        expr("lbl div 2").as("rep_key"),
        $"n_nodes"),
      $"kind", $"key")
  }
  private val g06Sql =
    """WITH RECURSIVE pairs AS (
         SELECT o_custkey AS c, l_suppkey AS s, count(*) AS w
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1, 2 HAVING count(*) >= 4),
       edges AS (
         SELECT 2*c AS src, 2*s+1 AS dst FROM pairs
         UNION ALL SELECT 2*s+1, 2*c FROM pairs),
       reach(node, lbl) AS (
         SELECT DISTINCT src, src FROM edges
         UNION
         SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
       labels AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
       sizes AS (SELECT lbl, count(*) AS n_nodes FROM labels GROUP BY lbl)
       SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         node // 2 AS key,
         CASE WHEN l.lbl % 2 = 0 THEN 'customer' ELSE 'supplier' END AS rep_kind,
         l.lbl // 2 AS rep_key, n_nodes
       FROM labels l JOIN sizes z ON z.lbl = l.lbl
       ORDER BY kind, key"""

  val queries: Map[String, QueryFn] = Map(
    "g06_star_components" -> g06 _,
    "g01_pagerank" -> g01 _,
    "g02_components" -> g02 _,
    "g03_triangles" -> g03 _,
    "g04_label_propagation" -> g04 _,
    "g05_khop_reach" -> g05 _,
  )
  val oracle: Map[String, String] = Map(
    "g06_star_components" -> g06Sql,
    "g01_pagerank" -> g01Sql,
    "g02_components" -> g02Sql,
    "g03_triangles" -> g03Sql,
    "g04_label_propagation" -> g04Sql,
    "g05_khop_reach" -> g05Sql,
  )
}
