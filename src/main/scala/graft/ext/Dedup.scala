package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import graft.functions.Hashing.{h60, h60jvm}
import graft.queries.QueryModule
import graft.sources.Tables

/** Deduplication operators for large-scale training-data pipelines
  * (north-star extension, SURVEY.md §7.3 step 6): exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design (the point of each variant):
  *  - exact dedup is a hash-groupBy — one shuffle on the content hash,
  *    never on the content itself (the 64-hex digest is the shuffle key,
  *    so 100 TB of text moves 32 bytes per doc);
  *  - exact pairwise Jaccard is O(sum over shingles of df(s)^2) — the
  *    correctness baseline, kept exact here and used to validate...
  *  - ...MinHash+LSH, the scale path: fixed-width signatures (12 perms)
  *    + banding (3 bands x 4 rows) so candidate generation is an
  *    equi-join on band hashes — linear shuffle, no all-pairs;
  *  - SimHash collapses a document to one 16-bit key — bucket join;
  *  - embedding near-dup prunes the O(n^2) pair space with sign-bit
  *    buckets (a 4-plane LSH) before the exact cosine check.
  *
  * Every hash is derived from md5 (`graft.functions.Hashing`) so the
  * DuckDB oracle reproduces the exact same values — the approximate
  * structures are byte-for-byte deterministic and fully
  * oracle-checked, not "close enough".
  */
object Dedup extends QueryModule {

  /** Cached tables reused across a query's join branches. */
  private val slots = new graft.util.PersistSlots

  /** Deterministic global order for a SMALL result without the
    * range-exchange sampling pass: a plain orderBy plans a
    * RangePartitioning whose bounds-sampling job re-executes the whole
    * unpersisted child DAG a second time — measured ~2 s of d06's wall
    * at sf0.1, where the result is tiny but the candidate DAG is the
    * expensive part. One round-robin shuffle of the final rows into a
    * single partition + an in-partition sort yields the same total
    * order at one execution. Only for gate-sized results — a large
    * result wants the parallel range sort this trades away. */
  private def sortedSmall(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** Fixed odd multipliers / offsets (< 2^30) for the minhash
    * permutation family; arbitrary but stable — the oracle embeds the
    * same constants. */
  private val permA: IndexedSeq[Long] =
    IndexedSeq(787021733L, 394601513L, 911911991L, 263882759L, 541717309L,
      678876581L, 322601051L, 870041003L, 150094637L, 429867169L,
      735191677L, 596516273L)
  private val permB: IndexedSeq[Long] =
    IndexedSeq(105892541L, 883460633L, 419037721L, 661903861L, 223494043L,
      905850131L, 347807633L, 772091503L, 534610127L, 198653699L,
      860498681L, 611452397L)

  /** PUBLIC operator: distinct (doc_id, 60-bit shingle hash) pairs for
    * any corpus with an id and a text column — the shared front end of
    * the Jaccard/minhash family. A shingle is 3 consecutive tokens of
    * `split(text, ' ')` joined by ' '; a text with fewer than 3 tokens
    * (or null) has none, and an id carried by several rows gets the
    * union of their sets. One [[DocText]] pass: each id's shingles are
    * hashed (`h60jvm`, one digest per partition), deduplicated inside
    * the id's group and emitted in ascending hash order, so only the
    * documents shuffle, never the ~290k shingle rows, and the rows come
    * out in a reproducible order. Hashing before deduplicating equals
    * deduplicating the strings absent md5 collisions (the bound in
    * `graft.functions.Hashing`). DedupSpec keeps the declarative
    * explode + md5 + distinct plan as this kernel's reference. */
  def shingleHashes(docs: DataFrame, id: Column, text: Column): DataFrame =
    DocText.perDoc(docs, id, text, StructField("sh", LongType)) { () =>
      val md = java.security.MessageDigest.getInstance("MD5")
      (key, texts) => {
        val hs = new scala.collection.mutable.ArrayBuilder.ofLong
        texts.foreach(toks => hs ++= windowHashes(md, toks))
        val a = hs.result()
        java.util.Arrays.sort(a)
        a.indices.iterator.filter(i => i == 0 || a(i) != a(i - 1)).map(i => Row(key, a(i)))
      }
    }

  /** The h60 hash of every 3-token window of `toks`, in window order
    * (none under 3 tokens). */
  private def windowHashes(md: java.security.MessageDigest, toks: Array[String]): Array[Long] = {
    val out = new Array[Long](math.max(toks.length - 2, 0))
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < out.length) {
      sb.setLength(0)
      sb.append(toks(i)).append(' ').append(toks(i + 1)).append(' ').append(toks(i + 2))
      out(i) = h60jvm(md, sb.toString)
      i += 1
    }
    out
  }

  /** The distinct (doc_id, sh) table of the corpus at `d`, a derived
    * artifact: eight queries (d02, d03, d06, d07, d13, d16, d17, d18)
    * read it, and its output is hashes only (224k rows, ~3.6 MB parquet
    * at sf0.1), never text. */
  private[graft] def shingles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.read.parquet(graft.util.Scratch.derived(s, "shingles", d,
        Seq(Tables.path(d, "documents"))) { out =>
      shingleHashes(Tables.table(s, d, "documents"), $"doc_id", $"text")
        .write.parquet(out)
    })
  }

  private val shinglesSql =
    """SELECT DISTINCT doc_id,
         l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS sh
       FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         unnest(generate_series(1, len(l) - 2)) AS t(i)"""

  /** d01 — normalize-then-exact dedup (hash-groupBy): the canonical form
    * strips the trailing boilerplate marker, sha2 over it is the group
    * key, the representative is the lowest doc_id (deterministic). Docs
    * whose group has >1 member are the collapsed duplicates.
    */
  /** PUBLIC operator: exact-duplicate groups for any corpus — rows
    * sharing the canonical form collapse to (kept_doc = min id,
    * group_size). The shuffle key is the 32-byte sha2 digest, never
    * the content. */
  def exactDedupGroups(docs: DataFrame, id: Column, canon: Column): DataFrame =
    docs.withColumn("h", sha2(canon, 256))
      .groupBy(col("h"))
      .agg(min(id).as("kept_doc"), count(lit(1)).as("group_size"))
      .select(col("kept_doc"), col("group_size"))

  private def d01(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    exactDedupGroups(Tables.documents(s, d), $"doc_id",
      regexp_replace($"text", "( dup)+$", ""))
      .orderBy($"kept_doc")
  }
  private val d01Sql =
    """SELECT min(doc_id) AS kept_doc, count(*) AS group_size
       FROM (SELECT doc_id, sha256(regexp_replace(text, '( dup)+$', '')) AS h
             FROM documents)
       GROUP BY h ORDER BY kept_doc"""

  /** d02 — exact n-gram Jaccard near-dup pairs (the correctness baseline
    * the LSH variant approximates): distinct 3-shingles, |A∩B| /
    * (|A|+|B|-|A∩B|) >= 0.6 over every document pair that shares one,
    * counted by [[jaccardPairs]] without materializing the pair space.
    * Scale note: the overlap kernel's work is Σ over shingles of df²
    * (2.8M increments at sf0.1, 27.9M at sf1; no shingle is in more
    * than 25 documents) and its driver side holds the corpus's
    * (doc_id, shingle) rows, so it holds to about sf15 (the bounds in
    * [[SetOverlap]]'s scaladoc); a corpus with stop-shingles or beyond
    * that scale runs d06 instead — the same exact check composed onto
    * d03's LSH candidates. This exhaustive form stays as the oracle
    * baseline the composition is validated against.
    */
  private def d02(s: SparkSession, d: String): DataFrame =
    jaccardPairs(shingles(s, d))

  /** `(doc_a, doc_b, jaccard)`, doc_a < doc_b, of the documents in a
    * distinct `(doc_id, sh)` table whose rounded shingle-set Jaccard is
    * at least 0.6, sorted by both ids. One plain collect brings the rows
    * to the driver, which groups them per document (null ids dropped,
    * as the equi-join on ids drops them); [[SetOverlap]] counts each
    * pair's shared shingles and emits the pairs the integer pre-filter
    * [[mayReach]] admits; the declared column arithmetic then decides
    * on those few rows, so the result is the oracle's to the bit. The
    * join key is the 60-bit shingle hash, not the ~90-byte string (the
    * oracle hashes identically; a collision would have to defeat md5
    * inside one corpus). */
  private[graft] def jaccardPairs(sh: DataFrame): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    import scala.collection.mutable.{ArrayBuilder, LongMap}
    val idType = sh.schema("doc_id").dataType
    val byDoc = new LongMap[ArrayBuilder.ofLong]()
    sh.where($"doc_id".isNotNull).select($"doc_id".cast("long"), $"sh")
      .as[(Long, Long)].collect()
      .foreach { case (doc, h) => byDoc.getOrElseUpdate(doc, new ArrayBuilder.ofLong) += h }
    val docs = byDoc.iterator.map { case (doc, b) => (doc, b.result()) }.toArray
    val pairs = SetOverlap.overlaps(s, docs)(jaccardCandidates)(_.collect())
    sortedSmall(pairs.toSeq.toDF("doc_a", "doc_b", "n_inter", "na", "nb")
      .withColumn("jaccard", round($"n_inter" / ($"na" + $"nb" - $"n_inter"), 6))
      .filter($"jaccard" >= 0.6)
      .select($"doc_a".cast(idType).as("doc_a"), $"doc_b".cast(idType).as("doc_b"),
        $"jaccard"),
      $"doc_a", $"doc_b")
  }

  /** Whether a pair sharing `n` of its `ni` and `nj` shingles can reach
    * `round(n / (ni + nj - n), 6) >= 0.6`: exact integer arithmetic for
    * n / union >= 0.599999, below the rounding's 0.5999995 cut, so it
    * admits a superset of the pairs the declared filter keeps. */
  private[graft] def mayReach(n: Long, ni: Long, nj: Long): Boolean =
    10000000L * n >= 5999990L * (ni + nj - n)

  /** d02's emit rule: `(doc_a, doc_b, n_inter, na, nb)` for each `j > i`
    * that [[mayReach]] admits. */
  private val jaccardCandidates: SetOverlap.Emit[(Long, Long, Long, Long, Long)] = {
    (a, i, js, ns, m) =>
      val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
      var p = 0
      while (p < m) {
        val j = js(p)
        if (j > i && mayReach(ns(p), a.sizes(i), a.sizes(j)))
          out += ((a.keys(i), a.keys(j), ns(p).toLong, a.sizes(i).toLong, a.sizes(j).toLong))
        p += 1
      }
      out.result()
  }
  private val d02Sql =
    s"""WITH sh0 AS ($shinglesSql),
       sh AS (SELECT doc_id,
         CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS sh FROM sh0),
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
         FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc_a, doc_b,
         round(n_inter / (sa.n + sb.n - n_inter), 6) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE round(n_inter / (sa.n + sb.n - n_inter), 6) >= 0.6
       ORDER BY doc_a, doc_b"""

  /** d03 — MinHash + banded LSH: 12 md5-derived permutations, signature
    * = per-seed min over shingles; 3 bands x 4 rows; candidate pairs are
    * docs sharing any band hash; estimated similarity = fraction of
    * equal signature positions. Candidate generation is an equi-join on
    * (band, band_hash) — the all-pairs space is never materialized.
    */
  /** Minhash signature + band-hash table from the hashed shingle table
    * (doc_id, sh: long). One aggregation pass, 12 min columns — no 12x
    * row explosion and the shuffle carries |docs| rows of 12 longs, not
    * |shingles| x 12. The 12 permutations are a universal-hash family
    * over ONE md5: h_i(x) = (a_i * (h(x) mod 2^30) + b_i) mod 1e9+7 —
    * md5 runs once per shingle instead of 12 times (it dominated this
    * query's cost); products stay < 2^60 so the arithmetic is
    * overflow-free and bit-identical in the oracle. Persisted: the
    * signature table is consumed by up to 5 downstream branches (3 band
    * joins + both pair sides) and Spark does not share self-join
    * subplans. */
  private[graft] def minhashBands(sh: DataFrame, slot: String): DataFrame = {
    val minCols = seedsList.map { i =>
      min((lit(permA(i)) * (col("sh") % 1073741824L) + lit(permB(i))) % 1000000007L).as(s"mh$i")
    }
    val mh = sh.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    slots.swap(slot,
      (0 until 3).foldLeft(mh)((df, b) =>
        df.withColumn(s"bh$b", md5(concat_ws(",",
          (0 until 4).map(r => col(s"mh${b * 4 + r}").cast("string")): _*)))))
  }

  /** Per-document minhash signature ROW for the streaming near-dup
    * operator (streaming/EventStreams.nearDupStream): (doc_id,
    * sh: distinct shingle hashes, bh0..bh2 band hashes) — the same
    * shingle / permutation / band constants as `minhashBands`, computed
    * as per-row array expressions with no aggregation, so a stream
    * carries a document's whole signature on one row and the online
    * operator's pairs are hash-identical to the batch d06 oracle.
    * Documents with no 3-shingle (under 3 tokens, or null text) are
    * filtered — they produce no signature rows in the batch pipeline
    * either. */
  private[graft] def docSignatures(docs: DataFrame, id: Column,
      text: Column): DataFrame = {
    // ONE imperative pass per document (the d14 kernel discipline):
    // the column form evaluated ~13 interpreted higher-order lambdas
    // per row (shingle transform + array_distinct + 12
    // array_min(transform) probes over the ~230-element hash array —
    // HOFs have no codegen), which made the per-doc signature the
    // dominant CPU of the e20 stream. Every VALUE is bit-identical to
    // the column form: h60jvm ≡ h60 (pinned by DedupSpec), the same
    // permutation arithmetic in the same nonnegative ranges, and the
    // band hash is the md5 hex of the same comma-joined decimal
    // string — so the LSH candidate set (and therefore the certified
    // pair set) cannot drift.
    import docs.sparkSession.implicits._
    docs.select(id.cast("long").as("doc_id"), text.cast("string").as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def md5hex(s: String): String = {
          md.reset()
          val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val sb = new java.lang.StringBuilder(32)
          var i = 0
          while (i < dig.length) {
            val v = dig(i) & 0xff
            sb.append(Character.forDigit(v >> 4, 16))
              .append(Character.forDigit(v & 0xf, 16))
            i += 1
          }
          sb.toString
        }
        // null text has no shingles: the row is skipped
        it.filter(_._2 != null).flatMap { case (id0, t) =>
          val toks = t.split(" ", -1)
          val n = toks.length
          if (n < 3) Iterator.empty // no 3-shingle: no signature row
          else {
            // distinct shingle hashes, first-occurrence order (the
            // array_distinct contract)
            val seen = new java.util.LinkedHashSet[java.lang.Long]()
            windowHashes(md, toks).foreach(h => seen.add(h))
            val sh = new Array[Long](seen.size)
            val itr = seen.iterator(); var k = 0
            while (itr.hasNext) { sh(k) = itr.next(); k += 1 }
            val mh = new Array[Long](12)
            var p = 0
            while (p < 12) {
              val a = permA(p); val b = permB(p)
              var m = Long.MaxValue
              var j = 0
              while (j < sh.length) {
                // h60 is nonnegative (60-bit), so % matches the SQL %
                val v = (a * (sh(j) % 1073741824L) + b) % 1000000007L
                if (v < m) m = v
                j += 1
              }
              mh(p) = m; p += 1
            }
            def band(b: Int): String =
              md5hex(s"${mh(b * 4)},${mh(b * 4 + 1)},${mh(b * 4 + 2)},${mh(b * 4 + 3)}")
            Iterator.single((id0, sh, band(0), band(1), band(2)))
          }
        }
      }.toDF("doc_id", "sh", "bh0", "bh1", "bh2")
  }

  /** LSH candidate pairs: docs sharing any of the 3 band hashes. An
    * equi-join per band — the all-pairs space is never materialized. */
  private[graft] def bandCandidates(withBands: DataFrame): DataFrame =
    (0 until 3).map { b =>
      val x = withBands.select(col("doc_id").as("doc_a"), col(s"bh$b").as("bh"))
      val y = withBands.select(col("doc_id").as("doc_b"), col(s"bh$b").as("bh"))
      x.join(y, Seq("bh")).filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
    }.reduce(_ unionByName _).distinct()

  private def d03(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // min() is duplicate-insensitive: the distinct artifact gives the
    // same signatures as every window's hash would
    val withBands = minhashBands(shingles(s, d), "d03")
    // signatures ride THROUGH the band joins (13 longs per side instead
    // of 1 — pair rows are few, so bytes are trivial), and est_sim is
    // computed map-side inside each join stage; the dedup across bands
    // is ONE distinct on the final (doc_a, doc_b, est_sim) triple,
    // which is well-defined because est_sim is a pure function of the
    // pair. This replaces the earlier candidates->sigA->sigB re-join
    // shape (5 downstream branches of the cached table) whose
    // concurrent AQE stages made wall time collapse-prone under load —
    // fewer branches, same answer, same oracle.
    val acols = seedsList.map(i => col(s"mh$i").as(s"a$i"))
    val bcols = seedsList.map(i => col(s"mh$i").as(s"b$i"))
    val pairs = (0 until 3).map { b =>
      val x = withBands.select(col("doc_id").as("doc_a") +: col(s"bh$b").as("bh") +: acols: _*)
      val y = withBands.select(col("doc_id").as("doc_b") +: col(s"bh$b").as("bh") +: bcols: _*)
      x.join(y, Seq("bh")).filter($"doc_a" < $"doc_b")
    }.reduce(_ unionByName _)
    sortedSmall(pairs
      .withColumn("est_sim", round(
        seedsList.map(i => (col(s"a$i") === col(s"b$i")).cast("int")).reduce(_ + _) / 12.0, 6))
      .select($"doc_a", $"doc_b", $"est_sim")
      .distinct(),
      $"doc_a", $"doc_b")
  }
  private def permCase(col: String): String =
    seedsList.map { i => s"WHEN $i THEN (${permA(i)} * $col + ${permB(i)}) % 1000000007" }
      .mkString("CASE seed ", " ", " END")
  private val seedsList = 0 until 12
  private lazy val d03Sql =
    s"""WITH sh AS ($shinglesSql),
       hb AS (
         SELECT doc_id,
           CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) % 1073741824 AS hb
         FROM sh),
       mh AS (
         SELECT doc_id, seed, min(${permCase("hb")}) AS mh
         FROM hb, unnest(generate_series(0, 11)) AS t(seed)
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 4 AS INT) AS band,
           md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS band_hash
         FROM mh GROUP BY 1, 2),
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.band_hash = y.band_hash
           AND x.doc_id < y.doc_id)
       SELECT doc_a, doc_b,
         round(sum(CAST(a.mh = b.mh AS INT)) / 12.0, 6) AS est_sim
       FROM cand
       JOIN mh a ON a.doc_id = doc_a
       JOIN mh b ON b.doc_id = doc_b AND a.seed = b.seed
       GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b"""

  /** d06 — LSH-verified near-dup: d02's exact Jaccard evaluated ONLY on
    * d03's candidate pairs. This is the production near-dup operator at
    * scale — candidate generation is the banded equi-join (linear
    * shuffle), and the quadratic exact check runs on |candidates| pairs
    * instead of the sum-of-df^2 inverted-index blowup. Same 0.6
    * threshold as d02, so on any corpus where LSH recall is total the
    * two agree; where a true pair shares no band, d06 trades that pair
    * for the scan it never had to do (the oracle composes both stages
    * in one CTE chain, so the trade is itself hash-checked, not
    * hand-waved).
    */
  /** Verified near-dup pairs, UNSORTED — shared by d06 (which adds the
    * gate's deterministic ORDER BY) and d07 (whose clustering must NOT
    * consume a sorted input: the range-partitioning exchange behind
    * orderBy runs a bounds-sampling job that re-executes the whole
    * candidate DAG a second time — measured ~7 s of d07's wall). */
  /** PUBLIC operator: LSH-verified near-duplicate pairs for any corpus
    * — candidate generation via banded minhash (linear shuffle), exact
    * Jaccard evaluated ONLY on candidates, kept at >= threshold. This
    * is the production near-dup entry point; d06/d07 are its driver
    * instantiations on the test corpus. `slot` isolates the internal
    * caches when several corpora are processed in one session. */
  def nearDupPairs(docs: DataFrame, id: Column, text: Column,
      threshold: Double, slot: String = "user"): DataFrame =
    verifiedPairs(shingleHashes(docs, id, text), threshold, slot)

  /** Dir-aware variant for callers processing THE corpus at `d` (the
    * SqlSurface view registration): same result as
    * `nearDupPairs(Tables.documents(s, d), ...)`, sourced from the
    * per-dir shingle artifact instead of a fresh tokenization pass. */
  private[graft] def nearDupPairsFor(s: SparkSession, d: String,
      threshold: Double, slot: String): DataFrame =
    verifiedPairs(shingles(s, d), threshold, slot)

  private def d06Pairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    verifiedPairs(shingles(s, d), 0.6, "d06")
  }

  private def verifiedPairs(shin: DataFrame, threshold: Double,
      slot: String): DataFrame = {
    // hashed shingles feed the signature build AND the exact check —
    // persist so the explode+md5 pipeline runs once
    val sh = slots.swap(s"${slot}sh", shin)
    val cand = bandCandidates(minhashBands(sh, s"${slot}mh"))
    // per-doc shingle-hash arrays: ONE groupBy over the shingle table,
    // then the exact check runs MAP-SIDE per candidate pair via
    // array_intersect on two doc-length-bounded arrays — the earlier
    // (doc, shingle) re-join shuffled the full shingle table twice and
    // re-aggregated |pairs x shingles| rows; this shuffles |docs| rows
    // of one array column and nothing else. Same n_inter (arrays are
    // distinct by construction), same jaccard arithmetic, same oracle.
    // persisted: the per-doc array table feeds BOTH join sides (doc_a
    // and doc_b) — unpersisted, each side re-runs the groupBy's full
    // shuffle of the cached shingle table (measured as two extra
    // ~118k-row exchanges and 2.5-5 s CPU inside d13 at sf0.1)
    val shArr = slots.swap(s"${slot}arr",
      sh.groupBy(col("doc_id")).agg(collect_list(col("sh")).as("arr"))
        .withColumn("n", size(col("arr")).cast("long")))
    cand
      .join(shArr.select(col("doc_id").as("doc_a"), col("arr").as("arr_a"), col("n").as("na")), "doc_a")
      .join(shArr.select(col("doc_id").as("doc_b"), col("arr").as("arr_b"), col("n").as("nb")), "doc_b")
      .withColumn("n_inter", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("jaccard", round(col("n_inter") / (col("na") + col("nb") - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  private def d06(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    sortedSmall(d06Pairs(s, d), $"doc_a", $"doc_b")
  }
  /** The d06 pipeline as a reusable CTE chain ending in `pairs`
    * (doc_a, doc_b, jaccard) — shared by the d06 oracle and d07's
    * clustering oracle. */
  private lazy val d06Ctes =
    s"""sh0 AS ($shinglesSql),
       sh AS (SELECT doc_id,
         CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS sh FROM sh0),
       hb AS (SELECT doc_id, sh % 1073741824 AS hb FROM sh),
       mh AS (
         SELECT doc_id, seed, min(${permCase("hb")}) AS mh
         FROM hb, unnest(generate_series(0, 11)) AS t(seed)
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 4 AS INT) AS band,
           md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS band_hash
         FROM mh GROUP BY 1, 2),
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.band_hash = y.band_hash
           AND x.doc_id < y.doc_id),
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (
         SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         FROM cand c
         JOIN sh a ON a.doc_id = c.doc_a
         JOIN sh b ON b.doc_id = c.doc_b AND a.sh = b.sh
         GROUP BY 1, 2),
       pairs AS (
         SELECT doc_a, doc_b,
           round(n_inter / (sa.n + sb.n - n_inter), 6) AS jaccard
         FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE round(n_inter / (sa.n + sb.n - n_inter), 6) >= 0.6)"""

  /** Shared with the streaming face (e20), whose online pairs must
    * hash-match this exact batch chain. */
  private[graft] lazy val d06Sql =
    s"""WITH $d06Ctes
       SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b"""

  /** Per-partition union-find with min-id roots and path compression.
    * `emitLabels = false` emits the partition's spanning FOREST — one
    * (root, node) edge per non-root node, <= nodes-1 edges whatever the
    * input edge count — the lossless compressed form that merges with
    * other partitions' forests. `emitLabels = true` emits final
    * (node, component-min) labels. Min-root unioning makes the result
    * order-independent: the component minimum always ends up the root.
    */
  private def unionFindReduce(emitLabels: Boolean)(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    it.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes = parent.keys.toArray.sorted
    if (emitLabels) nodes.iterator.map(k => (k, find(k)))
    else nodes.iterator.map(k => (find(k), k)).filter { case (r, k) => r != k }
  }

  /** d07 — near-dup CLUSTERING: connected components over the verified
    * near-dup pairs (d06), the final step of a training-data dedup
    * pipeline — pairs alone don't dedup, clusters do (a dup group of n
    * docs yields up to n(n-1)/2 pairs; keeping min-id per CLUSTER keeps
    * exactly one). Hierarchical union-find instead of an iterative
    * label-propagation join loop: each partition collapses its edges to
    * a spanning forest (O(E α) work, forest <= local nodes), partitions
    * merge 16-way through NARROW coalesces (no shuffle, no per-round
    * driver action — the whole reduction is one job of log16(parts)
    * chained mapPartitions), and the last level emits (node, min-id)
    * labels. Per-task memory is bounded by the nodes under that task's
    * subtree — the near-dup node set, orders smaller than the corpus;
    * at extreme scale where even that overflows one task, replace the
    * final levels with large-star/small-star rounds (same forest form).
    * Output: every clustered doc with its cluster representative
    * (min doc_id), cluster size, and whether it is the kept one.
    */
  /** PUBLIC operator: connected components over an arbitrary
    * (src, dst) edge DataFrame via hierarchical union-find — returns
    * (node, lbl) where lbl is the component's minimum node id. See the
    * d07 scaladoc for the fan-in design; this is the reusable core
    * (near-dup clustering, entity resolution, any small-diameter
    * component problem over pair output). */
  def connectedComponents(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // fan-in levels sized from the session's parallelism, NOT probed
    // from the plan (an AQE probe does not bind the runtime partition
    // count); the LAST level is always an explicit coalesce(1), which
    // is what makes the labels exact whatever ran before it
    var current = edges.select(src.cast("long"), dst.cast("long")).as[(Long, Long)]
      .mapPartitions(unionFindReduce(emitLabels = false))
    var parts = math.max(1, s.sparkContext.defaultParallelism / 16)
    // the first fan-in MUST be a shuffle (repartition), not a narrow
    // coalesce: a coalesce here propagates upstream to the whole
    // candidate-verification stage and runs it on `parts` tasks —
    // measured 18 s vs 8 s at sf0.1 local[32]. The shuffle itself moves
    // only the spanning-forest edges (<= near-dup nodes), which is
    // orders smaller than the work it unthrottles; levels BELOW the
    // barrier only touch that tiny forest, so narrow coalesces are
    // right for them.
    current = current.repartition(parts).mapPartitions(unionFindReduce(emitLabels = false))
    while (parts > 1) {
      parts = math.max(1, parts / 16)
      current = current.coalesce(parts).mapPartitions(unionFindReduce(emitLabels = false))
    }
    current.coalesce(1).mapPartitions(unionFindReduce(emitLabels = true))
      .toDF("node", "lbl")
  }

  /** PUBLIC operator: connected components via alternating LARGE-STAR /
    * SMALL-STAR rounds (the MapReduce CC formulation published by
    * Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the scale path `connectedComponents`' scaladoc points to for
    * graphs whose component node sets overflow a single task's
    * union-find map. Every round is two edge-sized shuffles
    * (groupBy-min + join); no task ever materializes more than one
    * node's neighbor minimum, so per-task memory is O(1) in component
    * size. Converges in O(log^2 n) rounds to a star forest; same
    * (node, lbl = component min) contract as `connectedComponents`,
    * asserted equal on shared inputs by GraphSpec.
    *
    * Invariant: the edge set is kept directed child -> parent with
    * child > parent. Large-star connects every larger neighbor of u to
    * min(Γ(u) ∪ {u}); small-star re-points every parent of u (and u)
    * at min(Γ⁻(u) ∪ {u}); both preserve the invariant. Convergence is
    * detected by an order-independent checksum (count, XOR of h1,
    * Σ h2 mod p — overflow-free under ANSI arithmetic) of the round's
    * edge set — three driver-collected longs per round, not a full
    * diff; a checksum collision (~2⁻⁶⁴) would surface as an oracle
    * hash mismatch, never silently. */
  def starComponents(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // each round is LOCAL-CHECKPOINTED, not merely persisted: a
    // persist caches the data but the logical plan still nests the
    // whole previous round, and Catalyst re-analysis grows
    // exponentially with rounds (measured 2.3 s -> 2.6 s -> 24.9 s
    // per round on a 6-edge chain). localCheckpoint truncates the
    // lineage to the materialized blocks — the standard discipline
    // for convergence-driven iteration; a production cluster worried
    // about executor loss swaps in reliable checkpoint(), same shape.
    var e = edges
      .select(src.cast("long").as("u"), dst.cast("long").as("v"))
      .filter($"u" =!= $"v")
      .select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      .distinct()
      .localCheckpoint(true)
    def checksum(df: DataFrame): (Long, Long, Long) = {
      val r = df.select(xxhash64($"u", $"v").as("h1"),
          pmod(xxhash64($"v", $"u"), lit(1000000007L)).as("h2"))
        .agg(count(lit(1)), bit_xor($"h1"), sum($"h2")).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    var prev = checksum(e)
    var converged = prev._1 == 0L
    var round = 0
    while (!converged) {
      round += 1
      // large-star: for each node u, every neighbor v > u re-points at
      // m(u) = min(Γ(u) ∪ {u}); each undirected edge contributes from
      // exactly one side, so |L(E)| <= |E|
      val bidir = e.unionAll(e.select($"v".as("u"), $"u".as("v")))
      val minsL = bidir.groupBy($"u").agg(least(min($"v"), first($"u")).as("m"))
      val large = bidir.join(minsL, "u").filter($"v" > $"u")
        .select($"v".as("u"), $"m".as("v")).distinct()
      // small-star: for each node u, parents Γ⁻(u) (all < u) and u
      // itself re-point at m = min(Γ⁻(u))
      val minsS = large.groupBy($"u").agg(min($"v").as("m"))
      val next = large.join(minsS, "u").filter($"v" =!= $"m")
        .select($"v".as("u"), $"m".as("v"))
        .unionAll(minsS.select($"u", $"m".as("v")))
        .distinct()
        .localCheckpoint(true)
      val cur = checksum(next)
      converged = cur == prev
      prev = cur
      e.unpersist(blocking = false)
      e = next
    }
    // converged star forest: every parent is a root. The final
    // checkpoint (possibly the initial one, when the input was already
    // converged) outlives this call — the caller's action reads its
    // blocks — so it is held in a slot and released by the NEXT
    // invocation, the lifecycle of the cached tables.
    slots.hold("starFinal", e)
    e.select($"u".as("node"), $"v".as("lbl"))
      .unionAll(e.select($"v".as("node"), $"v".as("lbl")).distinct())
  }

  private def d07(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lab = slots.swap("d07l",
      connectedComponents(d06Pairs(s, d), $"doc_a", $"doc_b"))
    val clusters = lab.groupBy($"lbl").agg(count(lit(1)).as("cluster_size"))
    lab.join(clusters, "lbl")
      .select($"node".as("doc_id"), $"lbl".as("cluster"), $"cluster_size",
        ($"node" === $"lbl").as("kept"))
      .orderBy($"doc_id")
  }
  private lazy val d07Sql =
    s"""WITH RECURSIVE $d06Ctes,
       edges AS (
         SELECT doc_a AS src, doc_b AS dst FROM pairs
         UNION ALL SELECT doc_b, doc_a FROM pairs),
       reach(node, lbl) AS (
         SELECT DISTINCT src, src FROM edges
         UNION
         SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
       labels AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
       clusters AS (SELECT lbl, count(*) AS cluster_size FROM labels GROUP BY lbl)
       SELECT node AS doc_id, l.lbl AS cluster, cluster_size, node = l.lbl AS kept
       FROM labels l JOIN clusters c ON c.lbl = l.lbl
       ORDER BY doc_id"""

  /** d13 — LEAKAGE-FREE train/val split: every near-dup CLUSTER (d07's
    * components; unpaired docs are their own singleton cluster) is
    * assigned wholly to train or val by a deterministic hash of its
    * label (~10% val) — the split discipline that keeps eval honest:
    * splitting by DOCUMENT leaks near-duplicates of training examples
    * into the eval set, which inflates every metric computed on it.
    * The output carries `n_leaky_pairs` — verified near-dup pairs
    * straddling the split — so the invariant the operator exists for
    * (zero, by construction) is part of the oracle-checked result, not
    * an unexercised claim. Scale: the split adds one left join and a
    * map-side hash to d07's clustering; nothing new shuffles.
    */
  private def d13(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the pair pipeline feeds BOTH the clustering and the straddle
    // check — persist it once or the whole LSH+verify DAG runs twice
    val pairs = slots.swap("d13p", d06Pairs(s, d))
    val lab = slots.swap("d13l",
      connectedComponents(pairs, $"doc_a", $"doc_b"))
    val assign = slots.swap("d13a", Tables.documents(s, d).select($"doc_id")
      .join(lab.select($"node".as("doc_id"), $"lbl"), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce($"lbl", $"doc_id"))
      .withColumn("split",
        when(h60(concat(lit("split:"), $"cluster".cast("string"))) % 10 === 0,
          "val").otherwise("train"))
      .select($"doc_id", $"cluster", $"split"))
    val leaky = pairs
      .join(assign.select($"doc_id".as("doc_a"), $"split".as("sa")), "doc_a")
      .join(assign.select($"doc_id".as("doc_b"), $"split".as("sb")), "doc_b")
      .filter($"sa" =!= $"sb")
      .agg(count(lit(1)).as("n_leaky_pairs"))
    assign.groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"cluster").as("n_clusters"))
      .crossJoin(broadcast(leaky))
      .orderBy($"split")
  }
  private lazy val d13Sql =
    s"""WITH RECURSIVE $d06Ctes,
       edges AS (
         SELECT doc_a AS src, doc_b AS dst FROM pairs
         UNION ALL SELECT doc_b, doc_a FROM pairs),
       reach(node, lbl) AS (
         SELECT DISTINCT src, src FROM edges
         UNION
         SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
       labels AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
       assign AS (
         SELECT d.doc_id, coalesce(l.lbl, d.doc_id) AS cluster,
           CASE WHEN CAST('0x' || substr(md5('split:' ||
                  CAST(coalesce(l.lbl, d.doc_id) AS VARCHAR)), 1, 15) AS BIGINT)
                  % 10 = 0
                THEN 'val' ELSE 'train' END AS split
         FROM (SELECT doc_id FROM documents) d
         LEFT JOIN labels l ON l.node = d.doc_id),
       leaky AS (
         SELECT count(*) AS n FROM pairs p
         JOIN assign a ON p.doc_a = a.doc_id
         JOIN assign b ON p.doc_b = b.doc_id
         WHERE a.split <> b.split)
       SELECT split, count(*) AS n_docs,
         count(DISTINCT cluster) AS n_clusters,
         (SELECT n FROM leaky) AS n_leaky_pairs
       FROM assign GROUP BY split ORDER BY split"""

  /** d04 — SimHash fingerprints: word-frequency weighted bit votes;
    * identical signatures form a dedup bucket. The signature WIDTH is
    * the tuning knob: d04 runs the 16-bit coarse-sieve configuration
    * (a document collapses to a 2-byte key — cheapest possible bucket
    * count sieve), d09 runs the production 60-bit layout whose block
    * joins stay selective at corpus scale.
    */
  /** (doc_id, simhash) signatures at the given bit width — shared
    * builder for d04 (16-bit bucket view) and d09 (60-bit
    * Hamming-verified pairs). ONE shuffle: the per-occurrence bit votes
    * (+1/-1 per set/unset bit) sum directly per doc_id — summing the
    * sign over every occurrence equals summing cnt * sign over distinct
    * (doc, word) groups, so the old (doc_id, word) pre-aggregation
    * shuffle bought nothing; hash-partial-agg combines the 60 vote
    * columns map-side and the exchange carries |docs| rows of longs.
    * Persisted when a slot is given (callers that persist a DERIVED
    * table instead, like d09's exploded block table, pass None — the
    * slot is then genuinely unowned here): each consumer feeds it into a self-join (d04: sigs x
    * bucket counts; d09: block x block), and Spark re-executes the
    * whole explode+vote pipeline per branch without it (measured
    * ~2 s/branch at sf0.1). */
  private[graft] def simhashSigs(s: SparkSession, d: String, bits: Int,
      persistSlot: Option[String]): DataFrame = {
    import s.implicits._
    // per-occurrence ±1 votes recompose exactly as cnt-weighted votes
    // over the per-dir word-count artifact (Σ_occurrences ±1 =
    // Σ_(doc,word) ±cnt, integer arithmetic) — md5 now runs once per
    // DISTINCT (doc, word) instead of once per token occurrence, and
    // the corpus never re-explodes (this is the oracle's own `wc`
    // formulation, simhashCte below).
    val occ = graft.ext.TextAnalysis.wordCounts(s, d)
      .withColumn("h", h60(concat(lit("w:"), $"word")))
    val voteCols = (0 until bits).map(b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, $"cnt").otherwise(-$"cnt")).as(s"v$b"))
    val sigs = occ.groupBy($"doc_id").agg(voteCols.head, voteCols.tail: _*)
      .withColumn("simhash",
        (0 until bits).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _))
      .select($"doc_id", $"simhash")
    persistSlot.fold(sigs)(slots.swap(_, sigs))
  }

  /** The matching DuckDB signature pipeline (wc → bits → sigs CTEs). */
  private def simhashCte(bits: Int) =
    s"""wc AS (
         SELECT doc_id, word, count(*) AS cnt,
           CAST('0x' || substr(md5('w:' || word), 1, 15) AS BIGINT) AS h
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY doc_id, word),
       bits AS (
         SELECT doc_id, b,
           sum(CASE WHEN (h >> b) & 1 = 1 THEN cnt ELSE -cnt END) AS v
         FROM wc, unnest(generate_series(0, ${bits - 1})) AS t(b)
         GROUP BY doc_id, b),
       sigs AS (
         SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash
         FROM bits GROUP BY doc_id)"""

  private def d04(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sig = simhashSigs(s, d, 16, Some("simhash"))
    val buckets = sig.groupBy($"simhash").agg(count(lit(1)).as("bucket_size"))
    sig.join(buckets, "simhash")
      .select($"doc_id", $"simhash", $"bucket_size")
      .orderBy($"doc_id")
  }
  private val d04Sql =
    s"""WITH ${simhashCte(16)},
       buckets AS (SELECT simhash, count(*) AS bucket_size FROM sigs GROUP BY simhash)
       SELECT doc_id, s.simhash, bucket_size
       FROM sigs s JOIN buckets USING (simhash)
       ORDER BY doc_id"""

  /** d09 — Hamming-verified SimHash near-dup (the Manku/WWW'07 block
    * trick, production layout): a 60-bit signature split into 4
    * disjoint 15-bit blocks. Any pair within Hamming distance 3 must
    * agree EXACTLY on at least one block (pigeonhole over 4 blocks), so
    * candidate generation is four equi-joins on (block_idx, block_value)
    * — never an all-pairs scan — and only candidates pay the exact
    * popcount(xor) verification. The wide blocks are what survive
    * scale: a 15-bit block key spreads n docs over 2^15 buckets, so the
    * per-block join stays near-linear where d04's 16-bit sieve (4-bit
    * blocks) would go quadratic — the width-vs-selectivity trade is the
    * whole point of Manku's construction.
    */
  private def d09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the persisted table is the EXPLODED block table, not the raw
    // signatures: both self-join sides then read 4n cached rows
    // directly instead of re-deriving the explode+bk projection per
    // branch — the whole vote pipeline materializes exactly once
    // under the eager count(), including under load (round 5's two
    // contended driver benches put the recompute races top-2)
    val blocks = slots.swap("simhash60",
      simhashSigs(s, d, 60, persistSlot = None)
        .select($"doc_id", $"simhash", explode(sequence(lit(0), lit(3))).as("b"))
        .withColumn("bk", expr("(simhash >> (b * 15)) & 32767")))
    val left = blocks.select($"b", $"bk", $"doc_id".as("doc_a"), $"simhash".as("sig_a"))
    val right = blocks.select($"b", $"bk", $"doc_id".as("doc_b"), $"simhash".as("sig_b"))
    val xorSig = $"sig_a".bitwiseXOR($"sig_b")
    // a verified pair is emitted once PER AGREEING BLOCK; keeping only
    // the row whose b is the FIRST agreeing block (every earlier 15-bit
    // block of the xor is nonzero) dedups with a pure bitwise filter
    // inside the join stage — no distinct, so verified rows never hit a
    // second shuffle. Exactly one row survives per pair: the
    // agreeing-block set is nonempty by construction and has a unique
    // minimum.
    val firstAgreeingBlock = (0 until 3).map { bp =>
      ($"b" <= bp) || (shiftright(xorSig, bp * 15).bitwiseAND(lit(32767L)) =!= 0L)
    }.reduce(_ && _)
    sortedSmall(left.join(right, Seq("b", "bk"))
      .filter($"doc_a" < $"doc_b")
      .filter(bit_count(xorSig) <= 3 && firstAgreeingBlock)
      .select($"doc_a", $"doc_b", bit_count(xorSig).cast("long").as("hamming")),
      $"doc_a", $"doc_b")
  }
  private val d09Sql =
    s"""WITH ${simhashCte(60)},
       blocks AS (
         SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS bk
         FROM sigs, unnest(generate_series(0, 3)) AS t(b)),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
           a.simhash AS sa, c.simhash AS sb
         FROM blocks a JOIN blocks c ON a.b = c.b AND a.bk = c.bk
           AND a.doc_id < c.doc_id)
       SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       FROM cand WHERE bit_count(xor(sa, sb)) <= 3
       ORDER BY doc_a, doc_b"""

  /** d05 — embedding-cosine near-dup with sign-bit LSH pruning:
    * `planes` hyperplane sign bits (dims 1..planes) bucket the vectors;
    * exact cosine (`cosine_sim`: double precision, sequential — bit-stable
    * across engines) is evaluated within buckets only. At n vectors the
    * pair space shrinks from n^2 to sum of bucket^2 ~= n^2 / 2^planes,
    * so the plane count is the knob that must GROW with the corpus —
    * at 100 TB a fixed handful of buckets is quadratic again. The
    * recall trade is the standard sign-LSH one: each added plane can
    * split a true near-dup pair across buckets; recover recall with
    * multi-probe over Hamming-1 neighbor cells (s08's construction)
    * when running many planes.
    */
  /** Sign-bit LSH bucket over the first `planes` dimensions of an
    * array<double> column (dim 1 is the most significant bit). A vector
    * shorter than `planes`, or one with a NULL among the probed
    * elements, fails LOUDLY (assert_true): either would otherwise null
    * the bucket and silently drop the row from every join on it — an
    * operator told to grow planes with the corpus must not degrade to
    * silently-empty output on short or corrupt embeddings. */
  def signBucket(v: Column, planes: Int): Column = {
    require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")
    val bucket = (0 until planes).map(i =>
      (element_at(v, i + 1) >= 0).cast("long") * lit(1L << (planes - 1 - i)))
      .reduce(_ + _)
    // bucket.isNotNull covers NULL probed elements (any null element
    // nulls the sum); size(v) on a NULL vector is -1, so both corrupt
    // shapes hit the same loud failure
    when(assert_true(size(v) >= planes && bucket.isNotNull,
      lit(s"signBucket: vector dimension < planes=$planes or NULL element in first $planes dims")).isNull,
      bucket)
  }

  /** Multi-probe fan-out of a sign bucket over `planes` bits: one row per
    * probed cell (explode), the bucket itself first, then its `planes`
    * Hamming-1 neighbours (bucket XOR 1, 2, 4, ...). The cell set does
    * not depend on which plane owns which bit. */
  def hamming1Cells(bucket: Column, planes: Int): Column =
    explode(array((0L +: (0 until planes).map(1L << _))
      .map(m => bucket.bitwiseXOR(lit(m))): _*))

  /** PUBLIC operator: embedding-cosine near-duplicate pairs for any
    * corpus with an id and a vector column — sign-plane buckets prune
    * the pair space, the exact cosine check runs in-bucket only.
    * `planes` sizes the bucket count (2^planes) to the corpus; d05 is
    * the planes=4 instantiation the oracle checks.
    *
    * `multiProbe` is the recall lever for HIGH plane counts (s08's
    * construction applied to the pair problem): one side of the join
    * additionally probes its `planes` Hamming-1 neighbor cells, so a
    * true pair split by exactly one hyperplane is still found. The
    * probing is ASYMMETRIC — only the left side explodes, the right
    * stays at its home bucket — so each qualifying pair matches exactly
    * once (same-bucket via flip=0, one-bit-apart via the left's single
    * matching flip) and the candidate space is (planes+1) x n^2 /
    * 2^planes: a linear factor buying back the recall the exponential
    * shrink costs. Precision is untouched — every candidate still
    * passes the exact cosine check. */
  def embeddingNearDupPairs(emb: DataFrame, id: Column, vec: Column,
      threshold: Double, planes: Int = 4, multiProbe: Boolean = false): DataFrame = {
    val e = emb.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
      .withColumn("bucket", signBucket(col("v"), planes))
    val probe = e.withColumn("cell",
      if (multiProbe) hamming1Cells(col("bucket"), planes) else col("bucket"))
    probe.as("a").join(e.as("b"),
        col("a.cell") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", graft.functions.CosineSimilarity.cosineSim(col("a.v"), col("b.v")))
      // threshold on the ROUNDED value: the two engines' accumulation
      // orders may differ in the last ulp, and an unrounded >= would
      // let a boundary pair pass in one engine and fail in the other
      .filter(round(col("cos"), 6) >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(col("cos"), 6).as("cos_sim"))
  }

  private def d05(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // sortedSmall, not orderBy: the result is gate-sized but the
    // bucket-join + cosine DAG is the expensive part, and orderBy's
    // range-bounds sampling job would execute it a second time
    sortedSmall(embeddingNearDupPairs(Tables.embeddings(s, d), $"vec_id",
      $"embedding", threshold = 0.4, planes = 4), $"vec_a", $"vec_b")
  }
  private val d05Sql =
    """WITH e AS (
         SELECT vec_id, embedding::DOUBLE[] AS v,
           CAST(v[1] >= 0 AS INT) * 8 + CAST(v[2] >= 0 AS INT) * 4 +
           CAST(v[3] >= 0 AS INT) * 2 + CAST(v[4] >= 0 AS INT) AS bucket
         FROM embeddings)
       SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
       FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
       ORDER BY vec_a, vec_b"""

  /** d11 — the multi-probe recall lever of d05 under the gate: the same
    * public operator at planes=8 (finer buckets — the setting the
    * scaladoc says must GROW with the corpus) with `multiProbe = true`,
    * so pairs split by exactly one of the eight hyperplanes are still
    * found via the Hamming-1 neighbor-cell probes. The oracle expresses
    * the asymmetric probing directly: the left side cross-joins the 9
    * XOR masks {0, 1, 2, ..., 128}, the right stays at its home bucket.
    */
  private def d11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    sortedSmall(embeddingNearDupPairs(Tables.embeddings(s, d), $"vec_id",
      $"embedding", threshold = 0.4, planes = 8, multiProbe = true),
      $"vec_a", $"vec_b")
  }
  private val d11Sql =
    """WITH e AS (
         SELECT vec_id, embedding::DOUBLE[] AS v,
           CAST(v[1] >= 0 AS BIGINT) * 128 + CAST(v[2] >= 0 AS BIGINT) * 64 +
           CAST(v[3] >= 0 AS BIGINT) * 32 + CAST(v[4] >= 0 AS BIGINT) * 16 +
           CAST(v[5] >= 0 AS BIGINT) * 8 + CAST(v[6] >= 0 AS BIGINT) * 4 +
           CAST(v[7] >= 0 AS BIGINT) * 2 + CAST(v[8] >= 0 AS BIGINT) AS bucket
         FROM embeddings),
       probe AS (
         SELECT vec_id, v, xor(bucket, f) AS cell
         FROM e, unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS t(f))
       SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
       FROM probe a JOIN e b ON a.cell = b.bucket AND a.vec_id < b.vec_id
       WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
       ORDER BY vec_a, vec_b"""

  /** d08 — cross-document repeated-chunk removal (the C4/RefinedWeb
    * "remove duplicated boilerplate spans" pass, aligned-window form):
    * documents split into non-overlapping 16-token chunks; a chunk
    * whose text occurs in MORE THAN ONE document is boilerplate
    * (navigation, license headers, templated footers) and is dropped;
    * per-doc retention stats come back. Chunks are hashed map-side to
    * 60-bit keys before the shuffle (same rationale as `shingles`: the
    * (8+8)-byte hashed rows move, never the ~100-byte chunk text), the
    * shared-chunk set is a distinct-count aggregate on that key, and
    * the per-doc rollup is a broadcast-friendly join back. At 100 TB
    * the only big shuffle is (doc_id, chunk_hash) — the same footprint
    * as exact dedup d01.
    */
  private def d08(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val chunks = Tables.documents(s, d)
      .withColumn("toks", split($"text", " "))
      .select($"doc_id", explode(
        transform(sequence(lit(1), size($"toks"), lit(16)),
          st => slice($"toks", st, lit(16)))).as("chunk"))
      .select($"doc_id", h60(array_join($"chunk", " ")).as("ch"),
        size($"chunk").cast("long").as("ctok"))
    val shared = chunks.groupBy($"ch")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" > 1)
      .select($"ch", lit(true).as("is_shared"))
    chunks.join(shared, Seq("ch"), "left")
      .withColumn("sh", coalesce($"is_shared", lit(false)))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"sh", 1L).otherwise(0L)).as("n_shared"),
        sum(when($"sh", 0L).otherwise($"ctok")).as("tokens_kept"))
      .orderBy($"doc_id")
  }
  private val d08Sql =
    """WITH chunks AS (
         SELECT doc_id, array_to_string(list_slice(l, s, s + 15), ' ') AS ch,
           len(list_slice(l, s, s + 15)) AS ctok
         FROM (
           SELECT doc_id, l, 1 + (i - 1) * 16 AS s
           FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             unnest(generate_series(1, 1 + (len(l) - 1) // 16)) AS t(i))),
       shared AS (
         SELECT ch FROM chunks GROUP BY ch HAVING count(DISTINCT doc_id) > 1)
       SELECT doc_id, count(*) AS n_chunks,
         CAST(sum(CASE WHEN sh THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         CAST(sum(CASE WHEN sh THEN 0 ELSE ctok END) AS BIGINT) AS tokens_kept
       FROM (
         SELECT c.doc_id, c.ctok, s.ch IS NOT NULL AS sh
         FROM chunks c LEFT JOIN shared s USING (ch))
       GROUP BY doc_id ORDER BY doc_id"""

  /** d14 — CONTENT-DEFINED CHUNKING dedup (the rsync/LBFS/backup-dedup
    * boundary trick applied to corpus boilerplate): d08's fixed
    * 16-token windows miss a shared span the moment one document
    * inserts a single token before it (every later window shifts);
    * here a chunk boundary falls AFTER token i wherever the rolling
    * 4-gram hash ending at i lands in 1/16 of hash space, so
    * boundaries are a function of LOCAL CONTENT, not position —
    * identical spans produce identical chunks at any offset, which is
    * what makes the shared-chunk join shift-robust. Expected chunk
    * length is the 16-token reciprocal of the boundary probability.
    * Scale design: boundary detection, chunk assembly, and hashing are
    * all HIGHER-ORDER ARRAY EXPRESSIONS inside the scan stage (no
    * token-level explode, no window over token rows — the per-token
    * state never leaves the row); the only thing shuffled is the
    * (doc_id, 60-bit chunk hash) pair stream, d01's exact footprint.
    * The rollup mirrors d08 so the two chunking disciplines are
    * directly comparable under the gate.
    */
  /** Public CDC surface of d14: per-doc chunk stats for the caller's
    * own corpus (docId, text columns; ids must cast to BIGINT). See
    * the d14 scaladoc for the boundary discipline and scale design.
    *
    * The chunker is a single mapPartitions pass, not array
    * expressions: higher-order lambdas (transform/filter) run on the
    * INTERPRETED evaluator, and Catalyst's CollapseProject inlines the
    * boundary-array expression into every per-chunk element_at — the
    * measured result was O(chunks · tokens) md5 evaluations per
    * document (127 s at sf0.1). The imperative pass hashes each 4-gram
    * and each chunk exactly once (O(tokens)), stays map-side, and
    * still ships only (doc_id, 60-bit hash, length) to the shuffle. */
  def cdcChunkStats(docs: DataFrame, docId: Column, text: Column): DataFrame = {
    import docs.sparkSession.implicits._
    val chunks = docs.select(docId.cast("long").as("doc_id"), text.as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        // null text has no chunks: the row is skipped
        it.filter(_._2 != null).flatMap { case (id, t) =>
          // split(" ", -1): keep trailing empties — the semantics of
          // Spark's split() and DuckDB's string_split the oracle uses
          val toks = t.split(" ", -1)
          val n = toks.length
          // boundary AFTER 1-based token i, i in 4..n-1: rolling
          // 4-gram (tokens i-3..i = indices i-4..i-1) in 1/16 of space
          val bounds = new scala.collection.mutable.ArrayBuffer[Int](n / 8 + 2)
          bounds += 0
          var i = 4
          while (i <= n - 1) {
            val sb = new java.lang.StringBuilder(64)
            sb.append(toks(i - 4)).append(' ').append(toks(i - 3)).append(' ')
              .append(toks(i - 2)).append(' ').append(toks(i - 1))
            if ((h60jvm(md, sb.toString) & 15L) == 0L) bounds += i
            i += 1
          }
          bounds += n
          (1 until bounds.length).iterator.map { j =>
            val s0 = bounds(j - 1); val e0 = bounds(j)
            (id, h60jvm(md, toks.slice(s0, e0).mkString(" ")),
              (e0 - s0).toLong)
          }
        }
      }.toDF("doc_id", "ch", "ctok")
    val shared = chunks.groupBy($"ch")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" > 1)
      .select($"ch", lit(true).as("is_shared"))
    chunks.join(shared, Seq("ch"), "left")
      .withColumn("sh", coalesce($"is_shared", lit(false)))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"sh", 1L).otherwise(0L)).as("n_shared"),
        sum(when($"sh", 0L).otherwise($"ctok")).as("tokens_kept"),
        (sum($"ctok").cast("double") / count(lit(1))).as("mean_ctok"))
      .orderBy($"doc_id")
  }
  private def d14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    cdcChunkStats(Tables.documents(s, d), $"doc_id", $"text")
  }
  private val d14Sql =
    """WITH t AS (
         SELECT doc_id, string_split(text, ' ') AS l,
           len(string_split(text, ' ')) AS n FROM documents),
       b AS (
         SELECT doc_id, l, n,
           CASE WHEN n >= 5 THEN list_filter(generate_series(4, n - 1),
             i -> CAST('0x' || substr(md5(array_to_string(
                    list_slice(l, i - 3, i), ' ')), 1, 15) AS BIGINT)
                  % 16 = 0)
           ELSE CAST([] AS BIGINT[]) END AS bp
         FROM t),
       ck AS (
         SELECT doc_id,
           array_to_string(list_slice(l,
             1 + list_prepend(CAST(0 AS BIGINT), bp)[j],
             list_append(bp, CAST(n AS BIGINT))[j]), ' ') AS ch,
           list_append(bp, CAST(n AS BIGINT))[j]
             - list_prepend(CAST(0 AS BIGINT), bp)[j] AS ctok
         FROM b, unnest(generate_series(1, len(bp) + 1)) AS u(j)),
       shared AS (
         SELECT ch FROM ck GROUP BY ch HAVING count(DISTINCT doc_id) > 1)
       SELECT doc_id, count(*) AS n_chunks,
         CAST(sum(CASE WHEN sh THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         CAST(sum(CASE WHEN sh THEN 0 ELSE ctok END) AS BIGINT) AS tokens_kept,
         CAST(sum(ctok) AS DOUBLE) / count(*) AS mean_ctok
       FROM (
         SELECT c.doc_id, c.ctok, s.ch IS NOT NULL AS sh
         FROM ck c LEFT JOIN shared s USING (ch))
       GROUP BY doc_id ORDER BY doc_id"""

  /** d15 — EXACT-SUBSTRING overlap length bracketing (the other half of
    * the Lee et al. "Deduplicating Training Data" recipe: near-dup ops
    * ask "are these documents similar", this asks "how LONG a verbatim
    * token run does a document share with anyone"). Doubling widths
    * {8,16,32,64}, stride-1 windows: if a doc's longest shared run is
    * L, every width w ≤ L has a shared window and no width > L does, so
    * max-shared-width brackets L within 2× at 4·|tokens| hash cost —
    * the cheap distributed stand-in for a suffix-array pass. Windows
    * hash map-side in the same single-pass imperative discipline as
    * d14 (no interpreted lambdas), deduped per doc before the shuffle,
    * so the wide exchange carries ≤ 4·|tokens| (doc, w, 60-bit hash)
    * rows. Per-width shared sets are distinct-count aggregates — d01's
    * shuffle footprint, four times.
    */
  /** Public surface of d15: per-doc longest-shared-run bracket for the
    * caller's corpus (ids must cast to BIGINT). Widths must be
    * ascending; see d15 for semantics.
    *
    * Window identity is a ROLLING polynomial hash over per-token
    * 64-bit hashes — h(i..i+w) = Σ th(j)·B^(w-1-j) in wrapping 64-bit
    * arithmetic — slid in O(1) per window, so the kernel is
    * O(widths · tokens) TOTAL instead of the old
    * O(widths · tokens · width) md5-over-rebuilt-string form (measured
    * 18.2 s in-suite CPU at sf0.1, the d-family's 4th-heaviest item,
    * almost all of it re-materializing and digesting every window string).
    * The hash only needs to agree with ITSELF across documents — the
    * oracle identifies windows by their TEXT — so this is the same
    * 64-bit no-collision assumption the md5-prefix form documented,
    * not a semantic change; a false sharing would surface as an
    * oracle hash mismatch.
    *
    * Collision bound: windows meet only within a width, so with n
    * distinct windows of one width P(any collision) ≈ n²/2^65: 1e-6 at
    * n ≈ 6.1e6, 1/2 at n ≈ 5.1e9. Distinct windows for w = 8/16/32/64:
    * 224,694 / 187,366 / 122,428 / 34,171 at sf0.1 (P ≈ 1.4e-9 at w = 8);
    * 2,246,940 / 1,873,660 / 1,224,280 / 341,710 on the ScaleSmoke sf1
    * corpus (P ≈ 1.4e-7), ~0.83 per token at w = 8. 64 bits keep a 1e-6
    * budget to about sf2.7 (~7.3M tokens); beyond it window identity
    * needs 128 bits (a second rolling hash with an independent
    * multiplier, compared as a pair), and near sf2,300 a collision is a
    * coin flip. Token hashes add V²/2^65 for V distinct tokens (31 at
    * sf0.1), negligible. Position is folded in by the polynomial
    * (token order matters); token identity by a splitmix64 round per
    * character. Rows with null text are skipped. */
  def substringRunStats(docs: DataFrame, docId: Column, text: Column,
      widths: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    import docs.sparkSession.implicits._
    val w8 = widths.head
    val wins = docs
      .select(docId.cast("long").as("doc_id"), text.as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val B = 0x9E3779B97F4A7C15L // odd golden-ratio multiplier
        // splitmix64 finalizer: full-avalanche 64-bit token hash
        def mix(z0: Long): Long = {
          var z = z0 + 0x9E3779B97F4A7C15L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          z ^ (z >>> 31)
        }
        // every character passes through the bijective mixer, so tokens
        // collide only by chance (~2^-64 per pair); a `h*31 + c` pre-mix
        // made "Aa" and "BB" equal before any mixing
        def tokHash(s: String): Long = {
          var h = s.length.toLong
          var i = 0
          while (i < s.length) { h = mix(h ^ s.charAt(i)); i += 1 }
          h
        }
        // null text has no windows: the row is skipped
        it.filter(_._2 != null).flatMap { case (id, t) =>
          val toks = t.split(" ", -1)
          val th = new Array[Long](toks.length)
          var i = 0
          while (i < toks.length) { th(i) = tokHash(toks(i)); i += 1 }
          widths.iterator.flatMap { w =>
            if (th.length < w) Iterator.empty
            else {
              // B^(w-1) in wrapping arithmetic, for the slide-out term
              var bw1 = 1L
              var k = 1
              while (k < w) { bw1 *= B; k += 1 }
              val seen = new scala.collection.mutable.HashSet[Long]
              var h = 0L
              var j = 0
              while (j < w) { h = h * B + th(j); j += 1 }
              val out = new scala.collection.mutable.ArrayBuffer[(Long, Int, Long)]
              var s0 = 0
              while (s0 <= th.length - w) {
                if (seen.add(h)) out += ((id, w, h))
                if (s0 + w < th.length)
                  h = (h - th(s0) * bw1) * B + th(s0 + w)
                s0 += 1
              }
              out.iterator
            }
          }
        }
      }.toDF("doc_id", "w", "ch")
    val shared = wins.groupBy($"w", $"ch")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" > 1)
      .select($"w", $"ch", lit(true).as("is_sh"))
    wins.join(shared, Seq("w", "ch"), "left")
      .withColumn("sh", coalesce($"is_sh", lit(false)))
      .groupBy($"doc_id")
      .agg(coalesce(max(when($"sh", $"w")), lit(0)).cast("long")
          .as("max_shared_run"),
        sum(when($"w" === w8, 1L).otherwise(0L)).as("n_windows_w8"),
        sum(when($"w" === w8 && $"sh", 1L).otherwise(0L)).as("n_shared_w8"))
      .orderBy($"doc_id")
  }
  private def d15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    substringRunStats(Tables.documents(s, d), $"doc_id", $"text")
  }
  // window identity by TEXT here vs 60-bit hash in the engine — the
  // same no-collision assumption every hashed join in this module
  // documents (d08's oracle sets the precedent)
  private val d15Sql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       wins AS (
         SELECT DISTINCT doc_id, 8 AS w,
           array_to_string(list_slice(l, i, i + 7), ' ') AS ch
         FROM t, unnest(generate_series(1, len(l) - 7)) AS u(i)
         UNION ALL
         SELECT DISTINCT doc_id, 16,
           array_to_string(list_slice(l, i, i + 15), ' ')
         FROM t, unnest(generate_series(1, len(l) - 15)) AS u(i)
         UNION ALL
         SELECT DISTINCT doc_id, 32,
           array_to_string(list_slice(l, i, i + 31), ' ')
         FROM t, unnest(generate_series(1, len(l) - 31)) AS u(i)
         UNION ALL
         SELECT DISTINCT doc_id, 64,
           array_to_string(list_slice(l, i, i + 63), ' ')
         FROM t, unnest(generate_series(1, len(l) - 63)) AS u(i)),
       shared AS (
         SELECT w, ch FROM wins GROUP BY w, ch
         HAVING count(DISTINCT doc_id) > 1)
       SELECT doc_id,
         CAST(coalesce(max(CASE WHEN sh THEN w END), 0) AS BIGINT)
           AS max_shared_run,
         CAST(sum(CASE WHEN w = 8 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_windows_w8,
         CAST(sum(CASE WHEN w = 8 AND sh THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_w8
       FROM (
         SELECT v.doc_id, v.w, s.ch IS NOT NULL AS sh
         FROM wins v LEFT JOIN shared s ON v.w = s.w AND v.ch = s.ch)
       GROUP BY doc_id ORDER BY doc_id"""

  /** d10 — train/eval DECONTAMINATION: the benchmark-leakage check every
    * training-data pipeline runs before a model ever sees the corpus
    * (the GPT-3/PaLM n-gram overlap methodology, here at 8 tokens). The
    * eval set is the deterministic doc_id % 7 == 0 slice standing in
    * for a held-out benchmark; a training document is contaminated if it
    * shares ANY 8-token gram with any eval document. Output: each
    * contaminated doc with its shared-gram count, total distinct grams,
    * and contamination rate.
    *
    * Scale design: eval benchmarks are tiny next to a 100 TB corpus, so
    * the eval gram set is BROADCAST — the contamination probe is a
    * map-side hash-join over the streaming corpus scan (no shuffle of
    * corpus grams at all); the only exchange is the per-doc count
    * rollup, keyed by doc_id. Grams are hashed map-side to 60-bit keys
    * (same rationale as `shingles`: 16-byte rows move, never ~100-byte
    * gram text).
    */
  private def d10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // persisted: the gram table feeds THREE consumers (the broadcast
    // eval-gram build is its own job, plus the final plan's sizes and
    // probe branches) — unpersisted, the explode+md5+distinct DAG
    // re-executed once per consumer (measured 3x the pipeline cost,
    // the slowest query of round 5 at 59 s driver-side; ~1/3 of that
    // with the cache). toks is BOUND in its own projection: the gram
    // lambda is interpreted (no codegen for higher-order functions) and
    // re-evaluates an expression nested in its body on every element,
    // so an inline split(text) would re-split the document per gram.
    val grams = slots.swap("d10", Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", explode(
        when(size($"toks") >= 8,
          transform(sequence(lit(1), size($"toks") - 7), i =>
            array_join(slice($"toks", i, lit(8)), " ")))
          .otherwise(array())).as("g8"))
      .select($"doc_id", h60($"g8").as("g"))
      .distinct())
    val train = grams.filter($"doc_id" % 7 =!= 0)
    val evalGrams = grams.filter($"doc_id" % 7 === 0).select($"g").distinct()
    val sizes = train.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
    train.join(broadcast(evalGrams), Seq("g"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
      .join(sizes, "doc_id")
      .withColumn("contamination", round($"n_shared" / $"n_grams", 6))
      .select($"doc_id", $"n_shared", $"n_grams", $"contamination")
      .orderBy($"doc_id")
  }
  private val d10Sql =
    """WITH g0 AS (
         SELECT doc_id, array_to_string(list_slice(l, i, i + 7), ' ') AS g8
         FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           unnest(generate_series(1, len(l) - 7)) AS t(i)),
       g AS (SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(g8), 1, 15) AS BIGINT) AS g FROM g0),
       tr AS (SELECT * FROM g WHERE doc_id % 7 <> 0),
       ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
       sizes AS (SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY doc_id),
       shared AS (
         SELECT doc_id, count(*) AS n_shared FROM tr JOIN ev USING (g)
         GROUP BY doc_id)
       SELECT s.doc_id, n_shared, n_grams,
         round(n_shared / n_grams, 6) AS contamination
       FROM shared s JOIN sizes z ON z.doc_id = s.doc_id
       ORDER BY s.doc_id"""

  /** PUBLIC operator: INCREMENTAL near-dup — verified near-duplicate
    * pairs between a NEW ingest batch and the corpus (new×old and
    * new×new), never old×old. This is the steady-state shape of a
    * production dedup pipeline: the corpus was already deduped when it
    * was ingested, so each arriving batch only needs checking against
    * band-matching documents, and the candidate join is sized by the
    * BATCH's band keys — Θ(batch), not Θ(corpus²). Here the corpus
    * signatures are rebuilt per call because the gate is stateless; in
    * production they are a persisted table keyed by (band, band_hash)
    * that the batch probes (d10's broadcast discipline applies when the
    * batch is benchmark-sized).
    *
    * Same banding and exact-Jaccard verification as `nearDupPairs`, so
    * the result is exactly that operator's pairs restricted to those
    * touching a new document. */
  def incrementalNearDupPairs(docs: DataFrame, id: Column, text: Column,
      isNew: Column, threshold: Double, slot: String = "incr"): DataFrame = {
    val flags = docs.select(id.as("doc_id"), isNew.cast("boolean").as("is_new"))
    val sh = slots.swap(s"${slot}sh", shingleHashes(docs, id, text))
    val bands = minhashBands(sh, s"${slot}mh")
    // batch side: band table restricted to new docs (a doc-keyed join
    // against the flag projection — both sides are |docs|-sized and
    // co-keyed; no content moves)
    val bNew = bands.join(flags.filter(col("is_new")), "doc_id")
    val cand = (0 until 3).map { b =>
      val x = bNew.select(col("doc_id").as("na"), col(s"bh$b").as("bh"))
      val y = bands.select(col("doc_id").as("nb"), col(s"bh$b").as("bh"))
      // normalize (min, max) so a new×new pair found from either side
      // collapses in the single distinct
      x.join(y, Seq("bh")).filter(col("na") =!= col("nb"))
        .select(least(col("na"), col("nb")).as("doc_a"),
          greatest(col("na"), col("nb")).as("doc_b"))
    }.reduce(_ unionByName _).distinct()
    // persisted: the per-doc array table feeds BOTH join sides (doc_a
    // and doc_b) — unpersisted, each side re-runs the groupBy's full
    // shuffle of the cached shingle table (measured as two extra
    // ~118k-row exchanges and 2.5-5 s CPU inside d13 at sf0.1)
    val shArr = slots.swap(s"${slot}arr",
      sh.groupBy(col("doc_id")).agg(collect_list(col("sh")).as("arr"))
        .withColumn("n", size(col("arr")).cast("long")))
    cand
      .join(shArr.select(col("doc_id").as("doc_a"), col("arr").as("arr_a"), col("n").as("na")), "doc_a")
      .join(shArr.select(col("doc_id").as("doc_b"), col("arr").as("arr_b"), col("n").as("nb")), "doc_b")
      .withColumn("n_inter", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("jaccard", round(col("n_inter") / (col("na") + col("nb") - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** d12 — incremental ingest dedup under the gate: the deterministic
    * doc_id % 3 == 2 slice stands in for the newly arrived batch; the
    * oracle expresses the one-sided banded candidate join directly. */
  private def d12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    sortedSmall(incrementalNearDupPairs(Tables.documents(s, d), $"doc_id",
      $"text", $"doc_id" % 3 === 2, 0.6, "d12"), $"doc_a", $"doc_b")
  }
  private lazy val d12Sql =
    s"""WITH sh0 AS ($shinglesSql),
       sh AS (SELECT doc_id,
         CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS sh FROM sh0),
       hb AS (SELECT doc_id, sh % 1073741824 AS hb FROM sh),
       mh AS (
         SELECT doc_id, seed, min(${permCase("hb")}) AS mh
         FROM hb, unnest(generate_series(0, 11)) AS t(seed)
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 4 AS INT) AS band,
           md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS band_hash
         FROM mh GROUP BY 1, 2),
       cand AS (
         SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
           greatest(x.doc_id, y.doc_id) AS doc_b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.band_hash = y.band_hash
           AND x.doc_id <> y.doc_id
         WHERE x.doc_id % 3 = 2),
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (
         SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         FROM cand c
         JOIN sh a ON a.doc_id = c.doc_a
         JOIN sh b ON b.doc_id = c.doc_b AND a.sh = b.sh
         GROUP BY 1, 2)
       SELECT doc_a, doc_b,
         round(n_inter / (sa.n + sb.n - n_inter), 6) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE round(n_inter / (sa.n + sb.n - n_inter), 6) >= 0.6
       ORDER BY doc_a, doc_b"""

  /** d16 — CONTAINMENT near-superset detection: ordered pairs where
    * |A∩B| / |A| >= 0.8 — document A is (nearly) CONTAINED in B. This
    * is the dup class Jaccard misses by construction: a short document
    * quoted wholesale inside a long one has tiny Jaccard (the union is
    * dominated by B) but containment ~1, and training corpora are full
    * of it (quote inclusion, boilerplate wrapping, article + digest).
    * Scale shape: candidates come from a DF-CAPPED inverted index —
    * shingles appearing in more than 64 documents are dropped from the
    * CANDIDATE join only (stop-shingle capping, the standard lever
    * that bounds the index self-join's per-key fan-out at scale;
    * df<=64 caps each posting list's pair contribution at ~64² rows) —
    * then the EXACT check runs on the full uncapped shingle arrays
    * map-side (array_intersect on the persisted per-doc arrays), so
    * the reported containment is exact; only candidate RECALL depends
    * on the cap, and a pair sharing nothing but stop-shingles is not a
    * containment pair at any threshold worth reporting.
    *
    * MEASURED recall vs cap (StudyBench cap sweep, study_r9.json; this
    * corpus's max shingle df is 25, so caps of 4/8/16 emulate corpora
    * ~6x/3x/1.5x denser relative to DF-64): cap 16 reports 512/512
    * pairs (perfect recall, and the count filter passes exactly the
    * 512 true pairs), cap 8 reports 504/512 (98.4%, with the looser
    * stop-count bound admitting 71k candidates), cap 4 collapses to
    * 122/512 (24%). Rule: keep the cap >= ~2/3 of the true max df of
    * the containment-relevant vocabulary; lowering it degrades recall
    * AND the count-filter's precision simultaneously (stop_a inflates
    * the admission bound). */
  /** The d16 operating rule, derived instead of hand-tuned: the cap
    * sweep measured recall collapsing once the cap falls under ~2/3 of
    * the corpus's true max shingle df (cap 16 on max-df 25 = 512/512
    * pairs; cap 8 = 98.4%; cap 4 = 24%), so the cap is computed from
    * the observed max df by that rule, floored at 16 so a tiny corpus
    * never under-caps. The pre-pass is one aggregation producing one
    * scalar — free next to the index join it bounds. Recall-safety is
    * the measured rule, not a theorem: the sweep study re-derives the
    * curve every round (study JSON `containment_cap_sweep`), which is
    * where a corpus with a different df shape would show up. */
  private[graft] def containmentCap(maxDf: Long): Long =
    math.max(16L, (2L * maxDf + 2) / 3)

  private def d16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = slots.swap("d16sh", shingles(s, d))
    val dfs = slots.swap("d16df",
      sh.groupBy($"sh").agg(count(lit(1)).as("df")))
    // one-agg pre-pass: the posting-list cap derives from the observed
    // max df (see containmentCap) instead of a hardcoded constant
    val cap = containmentCap(dfs.agg(max($"df")).collect()(0).getLong(0))
    val rare = dfs.filter($"df" <= cap).select($"sh")
    val kept = slots.swap("d16k", sh.join(rare, "sh"))
    // COUNT-FILTERED candidates (the PPJoin-family idea), not the raw
    // distinct index join: the capped index emits ~2.3M candidate
    // pairs at sf0.1 (10x linear at sf1 — the cap math holds, the
    // ScaleSmoke records it), and dragging two ~100-element shingle
    // arrays through every candidate made the exact-check join the
    // whole cost (measured 84 s at sf1 for 5120 result rows). The
    // shared-capped-shingle COUNT rides out of the same index join as
    // a 16-byte aggregation instead, and prunes exactly: with stop_A
    // = |A|'s capped-out shingles, true shared <= c_capped + stop_A.
    // The reported predicate is round(n_inter/na, 6) >= 0.8, which
    // also admits raw containment in [0.7999995, 0.8) — so the prune
    // bound is the ROUNDED threshold (shared*1e7 >= na*7999995, i.e.
    // containment >= 0.79999950), not the bare 0.8: no false negatives
    // for ANY na, integer arithmetic, result-invariant (the oracle
    // computes the unpruned form and must agree). Arrays are joined
    // only for survivors.
    // UNORDERED pair counts, both directions derived after the agg:
    // c_capped (shared capped-shingle count) is symmetric in the pair,
    // but containment is ordered — the old shape emitted every pair
    // TWICE out of the index join (doc_a ≠ doc_b), doubling the one
    // expensive exchange (2.38M partial rows, zero map-side combining
    // — pairs are unique per task by construction) and the partial-agg
    // hash map it feeds. Counting doc_a < doc_b halves the probe
    // stage's emissions, map size, and shuffle bytes (guide §2.3), and
    // a 2-way explode AFTER the aggregation restores both ordered
    // directions for the per-side admission filter. Same candidates,
    // same exact check, same oracle.
    val candCnt = kept.select($"sh", $"doc_id".as("doc_a"))
      .join(kept.select($"sh", $"doc_id".as("doc_b")), "sh")
      .filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("c_capped"))
      .select(explode(array(
        struct($"doc_a", $"doc_b", $"c_capped"),
        struct($"doc_b".as("doc_a"), $"doc_a".as("doc_b"), $"c_capped")))
        .as("p"))
      .select($"p.doc_a".as("doc_a"), $"p.doc_b".as("doc_b"),
        $"p.c_capped".as("c_capped"))
    val docStats = slots.swap("d16st",
      sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        .join(kept.groupBy($"doc_id").agg(count(lit(1)).as("n_kept")),
          Seq("doc_id"), "left")
        .select($"doc_id", $"n",
          ($"n" - coalesce($"n_kept", lit(0L))).as("n_stop")))
    val cand = candCnt
      .join(docStats.select($"doc_id".as("doc_a"),
        $"n".as("na_pre"), $"n_stop".as("stop_a")), "doc_a")
      .filter(($"c_capped" + $"stop_a") * 10000000L >= $"na_pre" * 7999995L)
      .select($"doc_a", $"doc_b")
    val shArr = slots.swap("d16arr",
      sh.groupBy($"doc_id").agg(collect_list($"sh").as("arr"))
        .withColumn("n", size($"arr").cast("long")))
    cand
      .join(shArr.select($"doc_id".as("doc_a"), $"arr".as("arr_a"), $"n".as("na")), "doc_a")
      .join(shArr.select($"doc_id".as("doc_b"), $"arr".as("arr_b")), "doc_b")
      .withColumn("n_inter", size(array_intersect($"arr_a", $"arr_b")).cast("long"))
      .withColumn("containment", round($"n_inter" / $"na", 6))
      .filter($"containment" >= 0.8)
      .select($"doc_a".as("contained_doc"), $"doc_b".as("container_doc"),
        $"n_inter", $"na".as("n_contained"), $"containment")
      .orderBy($"contained_doc", $"container_doc")
  }
  private lazy val d16Sql =
    s"""WITH sh0 AS ($shinglesSql),
       sh AS (SELECT doc_id,
         CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS sh FROM sh0),
       rare AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 64),
       kept AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare r ON r.sh = s.sh),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM kept a JOIN kept b
           ON a.sh = b.sh AND a.doc_id <> b.doc_id),
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (
         SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         FROM cand c
         JOIN sh a ON a.doc_id = c.doc_a
         JOIN sh b ON b.doc_id = c.doc_b AND a.sh = b.sh
         GROUP BY 1, 2)
       SELECT doc_a AS contained_doc, doc_b AS container_doc, n_inter,
         sa.n AS n_contained, round(n_inter / sa.n, 6) AS containment
       FROM inter JOIN sizes sa ON sa.doc_id = doc_a
       WHERE round(n_inter / sa.n, 6) >= 0.8
       ORDER BY contained_doc, container_doc"""

  /** d17 — CROSS-SOURCE LEAKAGE MATRIX: the provenance rollup of the
    * verified near-dup pairs (d06) — for every unordered source pair,
    * how many near-dup pairs straddle it and how similar they are.
    * This is the report that tells a corpus owner WHERE duplication
    * comes from (two crawls of the same site, a mirror feed, a dataset
    * repackaged inside another) and which source pair to deduplicate
    * against which — the aggregate view over the same pipeline whose
    * row-level faces are d06 (pairs), d07 (clusters), d13 (split
    * hygiene). Scale: two doc-keyed joins against the |docs|-sized
    * metadata projection and a matrix-sized aggregate; nothing beyond
    * d06's own cost. */
  private def d17(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = Tables.documents(s, d).select($"doc_id", $"source")
    d06Pairs(s, d)
      .join(src.select($"doc_id".as("doc_a"), $"source".as("sa")), "doc_a")
      .join(src.select($"doc_id".as("doc_b"), $"source".as("sb")), "doc_b")
      .select(least($"sa", $"sb").as("source_a"),
        greatest($"sa", $"sb").as("source_b"), $"jaccard")
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg($"jaccard"), 6).as("mean_jaccard"))
      .orderBy($"source_a", $"source_b")
  }
  private lazy val d17Sql =
    s"""WITH $d06Ctes
       SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b,
         count(*) AS n_pairs, round(avg(jaccard), 6) AS mean_jaccard
       FROM pairs p
       JOIN documents da ON da.doc_id = p.doc_a
       JOIN documents db ON db.doc_id = p.doc_b
       GROUP BY 1, 2 ORDER BY source_a, source_b"""

  /** d18 — END-TO-END CORPUS BUILD: the whole training-data pipeline
    * as ONE gated query — the composition the engine exists for.
    * Stage order is the production order and each stage's drop count
    * rides in the checked result:
    *   1. EXACT dedup (d01's canonical-hash groups — only the min
    *      doc_id of each group survives);
    *   2. NEAR-DUP collapse (d07's clusters over the verified d06
    *      pairs — only the cluster representative, min doc_id,
    *      survives; unpaired docs are their own representative);
    *   3. QUALITY gate (>= 30 whitespace tokens — the length floor
    *      every published curation recipe starts from).
    * Output: one row per source with the post-pipeline kept count,
    * total kept tokens, and the per-stage drop accounting (how many
    * of the source's docs each stage removed) — the numbers a corpus
    * owner actually reviews before a training run. Scale: stages 1-2
    * reuse the d01/d06/d07 machinery unchanged (their scale stories
    * apply verbatim); the gates and rollup are one map-side pass +
    * one matrix-sized aggregate. */
  private def d18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val canonGroups = docs
      .withColumn("h", sha2(regexp_replace($"text", "( dup)+$", ""), 256))
      .groupBy($"h").agg(min($"doc_id").as("kept_doc"))
      .select($"kept_doc")
    val lab = slots.swap("d18l",
      connectedComponents(d06Pairs(s, d), $"doc_a", $"doc_b"))
    val staged = docs
      .join(canonGroups.select($"kept_doc".as("doc_id"),
        lit(true).as("exact_kept")), Seq("doc_id"), "left")
      .join(lab.select($"node".as("doc_id"),
        ($"node" === $"lbl").as("rep")), Seq("doc_id"), "left")
      .withColumn("exact_ok", coalesce($"exact_kept", lit(false)))
      .withColumn("neardup_ok", coalesce($"rep", lit(true)))
      .withColumn("n_tok", size(split($"text", " ")).cast("long"))
      .withColumn("quality_ok", $"n_tok" >= 30)
    staged.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum((!$"exact_ok").cast("long")).as("n_exact_dropped"),
        sum(($"exact_ok" && !$"neardup_ok").cast("long")).as("n_neardup_dropped"),
        sum(($"exact_ok" && $"neardup_ok" && !$"quality_ok").cast("long"))
          .as("n_quality_dropped"),
        sum(($"exact_ok" && $"neardup_ok" && $"quality_ok").cast("long"))
          .as("n_kept"),
        sum(when($"exact_ok" && $"neardup_ok" && $"quality_ok", $"n_tok")
          .otherwise(0L)).as("n_tokens_kept"))
      .orderBy($"source")
  }
  private lazy val d18Sql =
    s"""WITH RECURSIVE $d06Ctes,
       edges AS (
         SELECT doc_a AS src, doc_b AS dst FROM pairs
         UNION ALL SELECT doc_b, doc_a FROM pairs),
       reach(node, lbl) AS (
         SELECT DISTINCT src, src FROM edges
         UNION
         SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
       labels AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
       canon AS (
         SELECT min(doc_id) AS kept_doc
         FROM (SELECT doc_id,
                 sha256(regexp_replace(text, '( dup)+$$', '')) AS h
               FROM documents)
         GROUP BY h),
       staged AS (
         SELECT d.source,
           (d.doc_id IN (SELECT kept_doc FROM canon)) AS exact_ok,
           coalesce(l.node = l.lbl, TRUE) AS neardup_ok,
           len(string_split(d.text, ' ')) AS n_tok,
           len(string_split(d.text, ' ')) >= 30 AS quality_ok
         FROM documents d LEFT JOIN labels l ON l.node = d.doc_id)
       SELECT source, count(*) AS n_docs,
         CAST(sum(CASE WHEN NOT exact_ok THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_dropped,
         CAST(sum(CASE WHEN exact_ok AND NOT neardup_ok THEN 1 ELSE 0 END)
           AS BIGINT) AS n_neardup_dropped,
         CAST(sum(CASE WHEN exact_ok AND neardup_ok AND NOT quality_ok
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_dropped,
         CAST(sum(CASE WHEN exact_ok AND neardup_ok AND quality_ok
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN exact_ok AND neardup_ok AND quality_ok
                  THEN CAST(n_tok AS BIGINT) ELSE 0 END) AS BIGINT)
           AS n_tokens_kept
       FROM staged GROUP BY source ORDER BY source"""

  val queries: Map[String, QueryFn] = Map(
    "d18_corpus_build" -> d18 _,
    "d17_cross_source_leakage" -> d17 _,
    "d16_containment" -> d16 _,
    "d10_decontaminate" -> d10 _,
    "d12_incremental_neardup" -> d12 _,
    "d01_exact_dedup" -> d01 _,
    "d08_chunk_dedup" -> d08 _,
    "d14_cdc_chunks" -> d14 _,
    "d15_substring_runs" -> d15 _,
    "d09_simhash_verified" -> d09 _,
    "d02_ngram_jaccard" -> d02 _,
    "d03_minhash_lsh" -> d03 _,
    "d04_simhash" -> d04 _,
    "d05_embedding_neardup" -> d05 _,
    "d06_lsh_verified_neardup" -> d06 _,
    "d07_neardup_clusters" -> d07 _,
    "d11_multiprobe_neardup" -> d11 _,
    "d13_leakage_free_split" -> d13 _,
  )

  val oracle: Map[String, String] = Map(
    "d18_corpus_build" -> d18Sql,
    "d17_cross_source_leakage" -> d17Sql,
    "d16_containment" -> d16Sql,
    "d10_decontaminate" -> d10Sql,
    "d12_incremental_neardup" -> d12Sql,
    "d01_exact_dedup" -> d01Sql,
    "d08_chunk_dedup" -> d08Sql,
    "d14_cdc_chunks" -> d14Sql,
    "d15_substring_runs" -> d15Sql,
    "d09_simhash_verified" -> d09Sql,
    "d02_ngram_jaccard" -> d02Sql,
    "d03_minhash_lsh" -> d03Sql,
    "d04_simhash" -> d04Sql,
    "d05_embedding_neardup" -> d05Sql,
    "d06_lsh_verified_neardup" -> d06Sql,
    "d07_neardup_clusters" -> d07Sql,
    "d11_multiprobe_neardup" -> d11Sql,
    "d13_leakage_free_split" -> d13Sql,
  )
}
