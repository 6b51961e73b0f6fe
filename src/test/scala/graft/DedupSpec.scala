package graft

import graft.ext.{Dedup, SetOverlap}
import org.apache.spark.graft.SparkProbe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

class DedupSpec extends SparkSpec {

  test("every dedup query runs; oracle SQL exists for each") {
    Dedup.queries.foreach { case (name, fn) =>
      assert(fn(spark, sfDir).columns.nonEmpty, name)
    }
    assert(Dedup.queries.keySet == Dedup.oracle.keySet)
  }

  test("d01 exact dedup collapses the planted ' dup' variants") {
    val df = Dedup.queries("d01_exact_dedup")(spark, sfDir)
    val nDocs = graft.sources.Tables.documents(spark, sfDir).count()
    val kept = df.count()
    val collapsed = df.agg(sum("group_size")).head.getLong(0)
    assert(collapsed == nDocs, "every doc lands in exactly one group")
    assert(kept < nDocs, "planted duplicates must collapse")
    assert(df.filter(col("group_size") >= 2).count() > 0, "dup groups exist")
  }

  test("d03 MinHash LSH recalls every exact-Jaccard>=0.6 pair (validated approximation)") {
    val exact = Dedup.queries("d02_ngram_jaccard")(spark, sfDir)
      .select("doc_a", "doc_b")
    val lsh = Dedup.queries("d03_minhash_lsh")(spark, sfDir)
      .select("doc_a", "doc_b")
    val missed = exact.except(lsh)
    assert(missed.count() == 0,
      "every true near-dup pair must appear among LSH candidates at this scale")
  }

  test("d06 composition equals exact d02 wherever LSH recall is total") {
    // d03's recall test above proves every true pair IS a candidate at
    // this SF, so the candidates-only exact check must reproduce d02
    // row for row — the scale path loses nothing here
    val exact = Dedup.queries("d02_ngram_jaccard")(spark, sfDir).collect().toSeq
    val composed = Dedup.queries("d06_lsh_verified_neardup")(spark, sfDir).collect().toSeq
    assert(composed == exact, "d06 must equal d02 when no true pair is missed")
  }

  test("d07 clusters: pair endpoints co-cluster, one kept doc per cluster") {
    val pairs = Dedup.queries("d06_lsh_verified_neardup")(spark, sfDir)
      .select("doc_a", "doc_b")
    val labels = Dedup.queries("d07_neardup_clusters")(spark, sfDir)
    // exactly one label row per clustered doc (a partial merge across
    // partitions would emit conflicting duplicates — seen once when the
    // fan-in was probed from the plan instead of forced)
    assert(labels.count() == labels.select("doc_id").distinct().count())
    // both endpoints of every verified pair land in the same cluster
    val la = labels.select(col("doc_id").as("doc_a"), col("cluster").as("ca"))
    val lb = labels.select(col("doc_id").as("doc_b"), col("cluster").as("cb"))
    val split = pairs.join(la, "doc_a").join(lb, "doc_b")
      .filter(col("ca") =!= col("cb"))
    assert(split.count() == 0, "a verified near-dup pair must not be split")
    // exactly one kept representative per cluster, and it's the min id
    val reps = labels.filter(col("kept")).groupBy("cluster").count()
    assert(reps.filter(col("count") =!= 1).count() == 0)
    assert(labels.filter(col("kept") && col("doc_id") =!= col("cluster")).count() == 0)
    // cluster sizes sum to the clustered-node count
    val nNodes = labels.count()
    val sumSizes = labels.filter(col("kept"))
      .agg(sum(col("cluster_size"))).head.getLong(0)
    assert(sumSizes == nNodes)
  }

  test("d04 simhash: near-identical docs share a bucket") {
    val sig = Dedup.queries("d04_simhash")(spark, sfDir)
    // the ' dup'-appended twin differs by one rare word: votes shift by
    // at most 1 per bit, so planted pairs overwhelmingly collide
    assert(sig.filter(col("bucket_size") >= 2).count() > 0)
    assert(sig.count() == graft.sources.Tables.documents(spark, sfDir).count())
  }

  test("d05 bucketed cosine pairs are symmetric-free and above threshold") {
    val df = Dedup.queries("d05_embedding_neardup")(spark, sfDir)
    assert(df.filter(col("vec_a") >= col("vec_b")).count() == 0)
    assert(df.filter(col("cos_sim") < 0.4).count() == 0)
  }

  test("d08 chunk dedup: cross-doc copies fully shared, unique doc fully kept") {
    import spark.implicits._
    // the driver fixtures have near-dups but no EXACT text copies, so
    // pin the cross-document semantics on an inline corpus: docs 1+2
    // are identical (every aligned chunk shared), doc 3 is disjoint
    val copied = (0 until 40).map(i => s"tok$i").mkString(" ")
    val unique = (0 until 20).map(i => s"other$i").mkString(" ")
    val dir = "/tmp/graft-d08-spec"
    Seq((1L, copied, "en", "unit", copied.length.toLong),
        (2L, copied, "en", "unit", copied.length.toLong),
        (3L, unique, "en", "unit", unique.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.queries("d08_chunk_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_shared"),
          r.getAs[Long]("tokens_kept"))).toMap
    assert(rows(1L) == ((3L, 3L, 0L)), s"copy A: ${rows(1L)}") // 16+16+8 all shared
    assert(rows(2L) == ((3L, 3L, 0L)), s"copy B: ${rows(2L)}")
    assert(rows(3L) == ((2L, 0L, 20L)), s"unique doc keeps all tokens: ${rows(3L)}")
  }

  test("d05 plane count scales the bucket space; deeper bucketing only refines") {
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    def nBuckets(p: Int): Long =
      e.select(Dedup.signBucket(col("embedding").cast("array<double>"), p).as("b"))
        .distinct().count()
    val b4 = nBuckets(4); val b6 = nBuckets(6)
    assert(b4 <= 16 && b6 <= 64, s"bucket ids bounded by 2^planes: $b4, $b6")
    assert(b6 > b4, s"more planes must spread the corpus over more buckets ($b4 -> $b6)")
    // plane p's bucket is a prefix of plane p+1's, so a deeper bucketing
    // only REFINES the partition: every pair surviving more planes also
    // shared the shallower bucket — the recall trade is one-directional
    val p4 = Dedup.queries("d05_embedding_neardup")(spark, sfDir)
      .select("vec_a", "vec_b").collect().toSet
    val p6 = Dedup.embeddingNearDupPairs(e, $"vec_id", $"embedding",
        threshold = 0.4, planes = 6)
      .select("vec_a", "vec_b").collect().toSet
    assert(p6.subsetOf(p4), "planes=6 pairs must be a subset of planes=4 pairs")
  }

  test("multi-probe recovers recall lost to high plane counts, never precision") {
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    def pairs(planes: Int, probe: Boolean): Set[(Long, Long)] =
      Dedup.embeddingNearDupPairs(e, $"vec_id", $"embedding",
          threshold = 0.4, planes = planes, multiProbe = probe)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // ground truth: exhaustive threshold pairs (no bucketing at all)
    val all = Dedup.embeddingNearDupPairs(e, $"vec_id", $"embedding",
        threshold = 0.4, planes = 1, multiProbe = true)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val plain = pairs(6, probe = false)
    val probed = pairs(6, probe = true)
    assert(plain.subsetOf(probed), "flip=0 keeps every same-bucket pair")
    assert(probed.subsetOf(all), "every probed pair passes the exact check")
    assert(probed.size >= plain.size)
  }

  test("public API: nearDupPairs and connectedComponents work on a caller's own schema") {
    import spark.implicits._
    // column names deliberately NOT doc_id/text — the public surface
    // must not depend on the test corpus's schema
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (101L, base),
      (102L, base + " extra"),             // near-dup of 101
      (103L, (1 to 30).map(i => s"zz$i").mkString(" ")), // unrelated
      (104L, base + " extra")              // exact dup of 102
    ).toDF("item_id", "body")
    val pairs = Dedup.nearDupPairs(corpus, $"item_id", $"body", 0.6, "spec")
    val got = pairs.select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(got.contains((101L, 102L)) && got.contains((102L, 104L)) &&
      got.contains((101L, 104L)), s"expected the dup triangle, got $got")
    assert(!got.exists(p => p._1 == 103L || p._2 == 103L), s"103 is unrelated: $got")
    val comps = Dedup.connectedComponents(pairs, $"doc_a", $"doc_b")
      .as[(Long, Long)].collect().toMap
    assert(comps(101L) == 101L && comps(102L) == 101L && comps(104L) == 101L)

    val groups = Dedup.exactDedupGroups(corpus, $"item_id", $"body")
      .as[(Long, Long)].collect().toMap
    assert(groups(102L) == 2L, "102 and 104 collapse to one exact group")
    assert(groups(101L) == 1L && groups(103L) == 1L)
  }

  test("d13 split is leakage-free and partitions the corpus") {
    import org.apache.spark.sql.functions._
    val df = graft.ext.Dedup.queries("d13_leakage_free_split")(spark, sfDir)
    val rows = df.collect()
    rows.foreach(r => assert(r.getAs[Long]("n_leaky_pairs") == 0,
      "a near-dup pair must never straddle the split"))
    val nDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(nDocs == graft.sources.Tables.documents(spark, sfDir).count(),
      "every document lands in exactly one split")
  }

  test("h60jvm equals the Column-side h60 (md5 -> 15 hex chars -> BIGINT)") {
    import spark.implicits._
    val samples = Seq("", "a", "tok1 tok2 tok3 tok4", "Ünïcode ☃ text",
      (1 to 50).map("w" + _).mkString(" "))
    import graft.functions.Hashing
    val md = java.security.MessageDigest.getInstance("MD5")
    val rows = samples.toDF("s")
      .select(Hashing.h60($"s"),
        expr("CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)"))
      .as[(Long, Long)].collect()
    samples.zip(rows).foreach { case (s, (col60, sql60)) =>
      assert(col60 == sql60, s"Column h60 diverges from its SQL form on '$s'")
      assert(Hashing.h60jvm(md, s) == col60, s"h60 twin diverges on '$s'")
    }
  }

  test("d14 CDC chunking is shift-robust where aligned chunking is not") {
    import spark.implicits._
    // the motivating property: a 60-token shared span is still detected
    // after one document shifts it by a single leading token, because
    // chunk boundaries derive from local content, not absolute position
    val span = (1 to 60).map(i => s"tok${i * 7 % 53}x").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma delta epsilon $span"),
      (2L, s"zzz $span"), // same span, shifted by a different prefix
      (3L, "totally unrelated words only here " +
        (1 to 40).map(i => s"uniq$i").mkString(" "))
    ).toDF("doc_id", "text")
    val stats = Dedup.cdcChunkStats(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shared"), r.getAs[Long]("n_chunks"))).toMap
    assert(stats(1L)._1 >= 1 && stats(2L)._1 >= 1,
      s"shifted shared span must still produce shared chunks: $stats")
    assert(stats(3L)._1 == 0, "unrelated doc shares nothing")
    // chunking is a partition of the tokens: Σ chunk lengths = n
    docs.select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
      .join(Dedup.cdcChunkStats(docs, col("doc_id"), col("text")), "doc_id")
      .collect().foreach { r =>
        assert(r.getAs[Double]("mean_ctok") * r.getAs[Long]("n_chunks")
          == r.getAs[Long]("n").toDouble,
          "mean chunk length x chunk count must equal the token count")
      }
  }

  test("d15 substring-run bracket: planted runs land in the right width bucket") {
    import spark.implicits._
    def words(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val run40 = words("shared", 40)   // 40-token verbatim run
    val run10 = words("small", 10)    // 10-token verbatim run
    val docs = Seq(
      (1L, s"${words("a", 20)} $run40 ${words("b", 15)}"),
      (2L, s"${words("c", 7)} $run40"),
      (3L, s"${words("d", 25)} $run10 ${words("e", 9)}"),
      (4L, s"$run10 ${words("f", 30)}"),
      (5L, words("lonely", 70))
    ).toDF("doc_id", "text")
    val got = Dedup.substringRunStats(docs, col("doc_id"), col("text"))
      .select("doc_id", "max_shared_run").as[(Long, Long)].collect().toMap
    // 40-token run: widths 8/16/32 fit inside it, 64 does not -> 32
    assert(got(1L) == 32L && got(2L) == 32L, s"40-run brackets to 32: $got")
    // 10-token run: only width 8 fits -> 8
    assert(got(3L) == 8L && got(4L) == 8L, s"10-run brackets to 8: $got")
    assert(got(5L) == 0L, "unique doc shares nothing")
  }

  test("public text operators skip a null-text row instead of failing") {
    import spark.implicits._
    val body = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, body), (2L, body + " tail"), (3L, null: String))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame, c: String = "doc_id"): Set[Long] =
      df.select(col(c)).as[Long].collect().toSet
    val (id, text) = (col("doc_id"), col("text"))
    assert(ids(Dedup.shingleHashes(docs, id, text)) === Set(1L, 2L))
    assert(ids(Dedup.docSignatures(docs, id, text)) === Set(1L, 2L))
    assert(ids(Dedup.cdcChunkStats(docs, id, text)) === Set(1L, 2L))
    assert(ids(Dedup.substringRunStats(docs, id, text)) === Set(1L, 2L))
    assert(Dedup.nearDupPairs(docs, id, text, 0.6, slot = "nulltext")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq === Seq((1L, 2L)))
  }

  test("d15 token hash: docs differing only by Aa/BB tokens share no run") {
    import spark.implicits._
    // "Aa" and "BB" have equal String.hashCode; a polynomial pre-mix
    // made their token hashes equal, so these windows looked shared
    val tail = (1 to 7).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, s"Aa $tail"), (2L, s"BB $tail"),
      (3L, s"$tail Aa Aa"), (4L, s"$tail BB BB")).toDF("doc_id", "text")
    val got = Dedup.substringRunStats(docs, col("doc_id"), col("text"))
      .select("doc_id", "max_shared_run", "n_shared_w8")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 0L, 0L), (2L, 0L, 0L), (3L, 0L, 0L), (4L, 0L, 0L)))
  }

  test("d12 incremental pairs = full near-dup pairs restricted to the new batch") {
    import spark.implicits._
    // same banding, same verification, one-sided candidate join — so the
    // incremental result must equal the full operator's pairs filtered
    // to those touching a doc_id % 3 == 2 document, nothing more or less
    val full = Dedup.queries("d06_lsh_verified_neardup")(spark, sfDir)
      .filter($"doc_a" % 3 === 2 || $"doc_b" % 3 === 2)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val incr = Dedup.queries("d12_incremental_neardup")(spark, sfDir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(incr == full, s"diff: ${(incr diff full) ++ (full diff incr)}")
    assert(incr.nonEmpty, "the test corpus plants near-dups in every slice")
  }

  test("d18 corpus build: stage drops partition every source's documents exactly") {
    import spark.implicits._
    val rows = Dedup.queries("d18_corpus_build")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val parts = Seq("n_exact_dropped", "n_neardup_dropped",
        "n_quality_dropped", "n_kept").map(r.getAs[Long])
      assert(parts.sum == n,
        s"${r.getAs[String]("source")}: stages must partition $n docs, got $parts")
      assert(parts.forall(_ >= 0))
    }
    // the pipeline must actually bite. (Only the exact stage is
    // asserted individually: at sf0.001 every planted near-dup is ALSO
    // an exact dup after canonicalization, so stage 1 claims them all
    // and stage 2 legitimately drops zero — the stage-ORDER property,
    // not a gap. The oracle checks both counts exactly at every SF.)
    assert(rows.map(_.getAs[Long]("n_exact_dropped")).sum > 0)
    assert(rows.map(_.getAs[Long]("n_kept")).sum > 0)
  }

  test("d02 overlap kernel equals the declarative shingle self-join on seeded fixtures") {
    (1 to 5).foreach { seed =>
      val sh = jaccardFixture(seed)
      val got = Dedup.jaccardPairs(sh)
      val want = declarativeJaccard(sh)
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        want.schema.map(f => (f.name, f.dataType)), s"seed $seed: ${got.schema}")
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      assert(g == w, s"seed $seed: kernel only ${g diff w}, declarative only ${w diff g}")
    }
  }

  test("the d02 fixtures cover every case the parity claim rests on") {
    import spark.implicits._
    val texts = (1 to 5).flatMap(jaccardTexts)
    assert(texts.exists(_._2 == null), "null text")
    assert(texts.exists(_._2 == ""), "empty text")
    assert(texts.exists(t => t._2 != null && t._2.nonEmpty && t._2.split(" ").length < 3),
      "a document with fewer than 3 tokens")
    assert(texts.exists { case (_, t) => t != null && {
      val w = t.split(" ")
      val shs = w.indices.dropRight(2).map(i => w.slice(i, i + 3).mkString(" "))
      shs.length > shs.distinct.length } }, "a shingle repeated within a document")
    assert(texts.groupBy(_._1).exists(_._2.length > 1), "duplicate doc_id rows")
    val rows = (1 to 5).flatMap { seed =>
      declarativeCounts(jaccardFixture(seed)).select($"n_inter", $"na", $"nb")
        .as[(Long, Long, Long)].collect() }
    assert(rows.exists { case (n, na, nb) => n * 5 == 3 * (na + nb - n) },
      "a pair at exactly 0.6 (3 shared of 5)")
    assert(rows.exists { case (n, na, nb) => !Dedup.mayReach(n, na, nb) &&
      round6(n, na + nb - n) == 0.599999 }, "a pair just under the pre-filter bound")
    assert(rows.exists { case (n, na, nb) => Dedup.mayReach(n, na, nb) &&
      round6(n, na + nb - n) < 0.6 }, "a pair the pre-filter admits and the filter drops")
    assert(rows.count { case (n, na, nb) => round6(n, na + nb - n) >= 0.6 } > 10,
      "pairs above the threshold")
  }

  test("the d02 pre-filter admits every pair the declared round(x, 6) >= 0.6 keeps") {
    import spark.implicits._
    // every union size up to 400,000 with the three overlaps nearest 0.6
    // of it: the declared filter's own arithmetic against mayReach
    val cases = spark.range(1, 400001).select($"id".as("u"))
      .select($"u", explode(array(floor($"u" * 0.6) - 1, floor($"u" * 0.6),
        ceil($"u" * 0.6))).as("n"))
      .where($"n".between(0, $"u"))
      .select($"n", $"u", (round($"n" / $"u", 6) >= 0.6).as("kept"))
      .where($"kept").as[(Long, Long, Boolean)].collect()
    assert(cases.length > 300000)
    // (ni, nj) = (u, n) gives union ni + nj - n = u
    val lost = cases.filterNot { case (n, u, _) => Dedup.mayReach(n, u, n) }
    assert(lost.isEmpty, s"kept pairs the pre-filter drops: ${lost.take(5).toSeq}")
  }

  test("d02 runs no document-pair shuffle and destroys its broadcast") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    def adjacencies() = SparkProbe.broadcastValues().count(_.isInstanceOf[SetOverlap.CoAdjacency])
    val shuffled = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten))
    }
    val sh = jaccardFixture(1).persist()
    sh.count()
    SparkProbe.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    val rows = try Dedup.jaccardPairs(sh).collect() finally {
      SparkProbe.drainListeners(spark)
      spark.sparkContext.removeSparkListener(listener)
      sh.unpersist()
    }
    assert(rows.nonEmpty)
    // the final sort moves only the result rows; the candidate pairs never shuffle
    assert(shuffled.get() <= rows.length, s"${shuffled.get()} shuffled records")
    eventually(timeout(30.seconds), interval(50.millis)) {
      assert(adjacencies() == 0, "the adjacency broadcast outlived d02")
    }
  }

  test("the shingle kernel equals the declarative explode + md5 + distinct plan") {
    import spark.implicits._
    def check(docs: DataFrame, what: String): Unit = {
      val got = Dedup.shingleHashes(docs, $"doc_id", $"text")
      val want = declarativeShingles(docs)
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        want.schema.map(f => (f.name, f.dataType)), s"$what: ${got.schema}")
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      assert(g.size == g.distinct.size, s"$what: duplicate rows")
      assert(g.toSet == w.toSet, s"$what: kernel only ${g diff w}, declarative only ${w diff g}")
    }
    (1 to 5).foreach(seed => check(jaccardTexts(seed).toDF("doc_id", "text"), s"seed $seed"))
    val odd = oddTexts.toDF("doc_id", "text")
    check(odd, "odd texts")
    check(odd.select($"doc_id".cast("string").as("doc_id"), $"text"), "string ids")
  }

  test("the shingle fixtures cover null ids, stray spaces and surrogate pairs") {
    val texts = oddTexts.map(_._2)
    assert(oddTexts.count(_._1.isEmpty) >= 2, "two rows of a null doc_id")
    assert(oddTexts.flatMap(_._1).groupBy(identity).exists(_._2.size > 1), "a duplicate doc_id")
    assert(texts.exists(t => t != null && t.startsWith(" ") && t.endsWith(" ")),
      "leading and trailing spaces")
    assert(texts.exists(t => t != null && t.contains("  ")), "a double space")
    assert(texts.exists(t => t != null && t.exists(Character.isSurrogate)), "a surrogate pair")
    assert(texts.exists(t => t != null && t.exists(c => c > 127 && !Character.isSurrogate(c))),
      "non-ASCII text")
  }

  test("shingleHashes groups binary ids by value and emits ascending hashes per id") {
    import spark.implicits._
    val docs = Seq((Array[Byte](1, 2), "a b c d"), (Array[Byte](1, 2), "b c d e"),
      (Array[Byte](3), "a b c a b c")).toDF("doc_id", "text")
    val got = Dedup.shingleHashes(docs, $"doc_id", $"text").collect().toSeq
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getLong(1)))
    val want = declarativeShingles(docs).collect().toSeq
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getLong(1)))
    assert(got.sortBy(x => (x._1.toString, x._2)) == want.sortBy(x => (x._1.toString, x._2)))
    assert(got.count(_._1 == Seq[Byte](1, 2)) == 3, "one group: a b c, b c d, c d e")
    got.groupBy(_._1).values.foreach(rows => assert(rows.map(_._2) == rows.map(_._2).sorted))
  }

  /** The declarative shingle front end the kernel replaced: split, the
    * 3-token window array (empty under 3 tokens), explode, md5 → h60,
    * distinct. */
  private def declarativeShingles(docs: DataFrame): DataFrame = {
    val toks = col("toks")
    val windows = when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array())
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(windows).as("shs"))
      .select(col("doc_id"), graft.functions.Hashing.h60(col("shs")).as("sh"))
      .distinct()
  }

  /** (doc_id, text) rows the d02 fixtures lack: null ids, leading,
    * trailing and double spaces, non-ASCII words and surrogate pairs. */
  private val oddTexts: Seq[(Option[Long], String)] = Seq(
    (None, "null id one two three"),
    (None, "one two three four"),
    (Some(1L), " lead and trail "),
    (Some(2L), "double  space  here now"),
    (Some(3L), "  "),
    (Some(4L), "caf\u00e9 na\u00efve \u00fcber caf\u00e9 na\u00efve"),
    (Some(5L), "\ud83d\ude00 \ud83d\ude01 x \ud83d\ude00 \ud83d\ude01"),
    (Some(5L), "x \ud83d\ude00 \ud83d\ude01 y"),
    (Some(6L), null),
    (Some(7L), "a b"))

  private def round6(n: Long, u: Long): Double =
    BigDecimal(n.toDouble / u).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The declarative d02 the overlap kernel replaced, kept as its
    * oracle: the inverted-index self-join on the shingle hash, counted
    * per document pair, joined to both sizes, the declared filter. */
  private def declarativeJaccard(sh: DataFrame): DataFrame = {
    import spark.implicits._
    declarativeCounts(sh)
      .withColumn("jaccard", round($"n_inter" / ($"na" + $"nb" - $"n_inter"), 6))
      .filter($"jaccard" >= 0.6)
      .select($"doc_a", $"doc_b", $"jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  /** (n_inter, na, nb, doc_a, doc_b) of every document pair sharing a
    * shingle, by the declarative self-join. */
  private def declarativeCounts(sh: DataFrame): DataFrame = {
    import spark.implicits._
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"), $"a.sh" === $"b.sh" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
      .select($"n_inter", $"na", $"nb", $"doc_a", $"doc_b")
  }

  /** The distinct (doc_id, sh) table of seed's fixture: the shingles of
    * [[jaccardTexts]], plus (seed 1) two pairs of large hash sets near
    * the pre-filter bound, which text fixtures cannot reach cheaply:
    *  - 80,002 shared of a 133,337 union, 0.59999850…: rounds to
    *    0.599999, below the pre-filter's 0.599999 cut;
    *  - 120,001 shared of a 200,002 union, 0.59999900…: admitted by the
    *    pre-filter, dropped by the rounded filter. */
  private def jaccardFixture(seed: Int): DataFrame = {
    import spark.implicits._
    val docs = jaccardTexts(seed).toDF("doc_id", "text")
    val text = Dedup.shingleHashes(docs, $"doc_id", $"text")
    if (seed != 1) text
    else {
      def sets(a: Long, b: Long, shared: Int, onlyA: Int, onlyB: Int, base: Long) =
        (0 until shared).flatMap(i => Seq((a, base + i), (b, base + i))) ++
          (0 until onlyA).map(i => (a, base + shared + i)) ++
          (0 until onlyB).map(i => (b, base + shared + onlyA + i))
      val big = sets(1001L, 1002L, 80002, 26667, 26668, 1L << 40) ++
        sets(1003L, 1004L, 120001, 40000, 40001, 1L << 41)
      text.unionByName(big.toDF("doc_id", "sh"))
    }
  }

  /** (doc_id, text) rows of a small corpus over a 10-word vocabulary, so
    * shingles recur across documents: random documents, near-copies with
    * one or two words changed, a pair at exactly 0.6 ("a b c d e f" vs
    * "a b c d e g": 3 shared of 5 shingles), documents of 0-2 tokens,
    * null text, a document repeating its shingles and a doc_id carried
    * by two rows. */
  private def jaccardTexts(seed: Int): Seq[(Long, String)] = {
    val rnd = new Random(seed)
    val vocab = (0 until 10).map(i => s"w$i")
    def doc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val base = (0 until 40).map(_ => doc(4 + rnd.nextInt(12)))
    val copies = base.take(25).map { d =>
      val w = d.toArray
      (0 until 1 + rnd.nextInt(2)).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(10)))
      w.toSeq
    }
    val random = (base ++ copies).map(_.mkString(" "))
    val fixed = Seq("a b c d e f", "a b c d e g", "x", "x y", "", null,
      "r s t r s t r s t", "r s t r s t u", "w1 w2 w3 w4 w5")
    val ids = rnd.shuffle((0 until random.size + fixed.size).map(_ * 3L + 5))
    val rows = ids.zip(random ++ fixed)
    // a second row for one id: its shingles join the first row's set
    rows :+ (rows.head._1, "w1 w2 w3 w4 w5 w6")
  }
}
