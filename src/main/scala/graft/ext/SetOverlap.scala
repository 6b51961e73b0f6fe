package graft.ext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import scala.reflect.ClassTag

/** Exact set-overlap counts |A ∩ B| between entities drawn from an
  * inverted index, without materializing the pair space: the shared
  * kernel of g03 (suppliers over their customer sets, top-5 rule) and
  * d02 (documents over their shingle-hash sets, Jaccard threshold
  * rule).
  *
  * One call ([[overlaps]]):
  *  1. the driver maps both key spaces to dense indices (entity keys
  *     and token keys sorted, so index order is key order) and inverts
  *     the per-entity lists into each token's entities ([[CoAdjacency]],
  *     CSR), which it broadcasts;
  *  2. the per-entity token lists go out as the partitions of one
  *     mapPartitions pass (no second pass over the input tables);
  *  3. for each entity `i` the kernel walks its tokens' posting lists,
  *     adding co-occurrence counts into a primitive `int[#entities]`
  *     reused for every entity of the task, with a `seen` list of the
  *     indices it touched, and hands the `(j, overlap)` pairs (`i`
  *     itself included) to the caller's emit rule;
  *  4. `use` consumes the emitted rows while the broadcast is alive;
  *     the broadcast is destroyed when `use` returns, so `use` must
  *     write or collect, not return the rows lazily.
  *
  * Work is Σ over tokens of df² array increments (df = the token's
  * entity count), each into the count array, which stays cache-resident
  * (4 KB for g03's 1,000 suppliers and 20 KB for d02's 5,000 documents
  * at sf0.1, ten times that at sf1):
  *  - g03 (customers as tokens): 25,676,603 at sf0.1 and 256,766,030
  *    on the ScaleSmoke sf1 corpus (shards are disjoint, so exactly
  *    10x);
  *  - d02 (shingle hashes as tokens): 2,791,946 at sf0.1 and
  *    27,919,460 at sf1. No shingle occurs in more than 25 documents
  *    at either scale, so the sum grows linearly with the corpus.
  * A high-document-frequency token costs df² on its own: a
  * stop-shingle present in half of a 10^6-document corpus would cost
  * 2.5·10^11 increments alone. Past the point where Σ df² stops fitting
  * a task's time budget, candidate generation needs an AllPairs/PPJoin
  * prefix filter (rarest tokens first, only prefix tokens generate
  * candidates); neither query needs it at these scales.
  *
  * Broadcast bytes: 4 per distinct (entity, token) pair, 4 per token,
  * 12 per entity.
  *  - g03: ~2.4 MB at sf0.1 (586,871 pairs, 14,999 customers), 24.2 MB
  *    at sf1 (24,154,804 bytes measured);
  *  - d02: 1.2 MB at sf0.1 (260,388 pairs, 27,213 distinct shingles,
  *    5,000 documents), 12.1 MB at sf1 (2,603,880 pairs, 272,130
  *    shingles, 50,000 documents).
  * The kernel tasks carry the per-entity lists, another 4 bytes per
  * pair split over the tasks.
  *
  * Driver bound: the driver holds the input lists (8 bytes per pair as
  * long keys), one flattened copy of the token keys to sort, and the
  * two int lists: a peak of ~24 bytes per pair (g03: 14 MB at sf0.1,
  * 141 MB at sf1; d02: 6.2 MB and 62 MB), plus whatever the caller
  * collected to build the lists (d02's boxed `(doc_id, sh)` tuples,
  * ~64 bytes per row: 17 MB at sf0.1, 167 MB at sf1). The collect meets
  * the default 1 GiB `spark.driver.maxResultSize` at roughly 1.3·10^8
  * pairs for g03's long lists (about sf23 of its corpus) and ~4·10^7
  * rows for d02's ~28-byte serialized rows (about sf15); past that the
  * inversion must be partitioned by token range, not broadcast.
  *
  * MEASURED NEGATIVE RESULT, kept as history: an earlier imperative g03
  * kernel (repartition by customer, count supplier PAIRS into a
  * packed-long LongMap, emit per-task partials) ran 5,861 s CPU at sf1
  * (1,931 s with a splitmix64 key mix) against 580 s for the
  * declarative self-join + hash aggregate it tried to replace. Its pair
  * keys (C(10k, 2) ≈ 50M) were within 10× of its 125M increments, so
  * map-side combining removed little, every probe hashed into a map
  * far larger than cache, and every partial paid boxing and encoder
  * costs. This kernel escapes all three: it has no pair keys and no
  * hash map (an entity's counts live in a dense array indexed by the
  * co-occurring entity), its increments hit that cache-resident array,
  * and the emit rule keeps only what its query returns (5 rows per
  * supplier, or the few pairs above a Jaccard threshold) instead of one
  * partial per pair. Do not retry the LongMap form. */
object SetOverlap {

  /** The broadcast: every token's entities as dense entity indices,
    * CSR-packed. The token with dense index `t` occurs in entities
    * `ent(off(t))` until `ent(off(t + 1))`, ascending; dense entity
    * index `i` stands for key `keys(i)` and holds `sizes(i)` distinct
    * tokens. */
  private[graft] final class CoAdjacency(val off: Array[Int],
      val ent: Array[Int], val keys: Array[Long], val sizes: Array[Int])
    extends Serializable

  /** An emit rule: given the adjacency and entity `i`, the `m` entities
    * `js(0 until m)` sharing a token with `i` (in first-seen order, `i`
    * itself included) and their overlaps `ns(0 until m)`, the rows to
    * emit for `i`. The arrays are reused for the next entity, so the
    * rule returns materialized rows. */
  private[graft] type Emit[T] = (CoAdjacency, Int, Array[Int], Array[Int], Int) => Seq[T]

  /** Runs the overlap kernel over `entities` (entity key → its token
    * keys; keys distinct, tokens deduplicated here, each list sorted in
    * place) and hands the emitted rows to `use` while the broadcast is
    * alive. */
  private[graft] def overlaps[T: ClassTag, R](s: SparkSession,
      entities: Array[(Long, Array[Long])])(emit: Emit[T])(use: RDD[T] => R): R = {
    val byKey = entities.sortBy(_._1)
    val keys = byKey.map(_._1)
    require(keys.indices.forall(i => i == 0 || keys(i - 1) != keys(i)),
      "entity keys must be distinct")
    val lists = byKey.map(e => sortedDistinct(e._2))
    val tokens = sortedDistinct(lists.flatten)
    val tokensOf = lists.map(_.map(java.util.Arrays.binarySearch(tokens, _)))
    val off = new Array[Int](tokens.length + 1)
    tokensOf.foreach(_.foreach(t => off(t + 1) += 1))
    for (t <- tokens.indices) off(t + 1) += off(t)
    val ent = new Array[Int](off(tokens.length))
    val fill = off.clone()
    for (i <- tokensOf.indices; t <- tokensOf(i)) { ent(fill(t)) = i; fill(t) += 1 }
    val bc = s.sparkContext.broadcast(
      new CoAdjacency(off, ent, keys, tokensOf.map(_.length)))
    val rows = s.sparkContext.parallelize(tokensOf.indices.map(i => (i, tokensOf(i))))
      .mapPartitions { part =>
        val a = bc.value
        val count = new Array[Int](a.keys.length) // all zero between entities
        val seen = new Array[Int](a.keys.length) // the indices count holds non-zero
        val ns = new Array[Int](a.keys.length)
        part.flatMap { case (i, toks) =>
          var m = 0
          var p = 0
          while (p < toks.length) {
            var q = a.off(toks(p))
            val end = a.off(toks(p) + 1)
            while (q < end) {
              val j = a.ent(q)
              if (count(j) == 0) { seen(m) = j; m += 1 }
              count(j) += 1
              q += 1
            }
            p += 1
          }
          p = 0
          while (p < m) { ns(p) = count(seen(p)); count(seen(p)) = 0; p += 1 }
          emit(a, i, seen, ns, m)
        }
      }
    try use(rows) finally bc.destroy()
  }

  /** The distinct values of `a`, ascending; sorts `a` in place. */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var n = 0
    for (x <- a) if (n == 0 || x != a(n - 1)) { a(n) = x; n += 1 }
    java.util.Arrays.copyOf(a, n)
  }
}
