package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.sources.{VersionedScan, VersionedTable}

/** The FileIndex-backed scan (VersionedScan): one Catalyst scan node
  * per snapshot, bucket pruning from declarative key predicates, and
  * schema evolution across commit generations. The row-level semantics
  * are oracle-gated (v20/v21/v23); these specs pin the pruning and
  * plan shape the oracle can't see. */
class VersionedScanSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = graft.util.Scratch.dir(s"vscan_spec_$name")
    graft.util.Scratch.deleteRecursively(new java.io.File(d))
    d
  }

  /** Execute and return (rows, numFiles actually read) from the single
    * FileSourceScan the plan must contain. */
  private def filesRead(df: DataFrame): (Long, Long) = {
    // execute THIS dataset (count() would plan a new query execution,
    // leaving this plan's metrics untouched)
    val n = df.collect().length.toLong
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size === 1,
      s"expected exactly one file scan, got ${scans.size}:\n$plan")
    (n, scans.head.metrics("numFiles").value)
  }

  /** 3-version fixture: 12 keys over 8 buckets, then a widening +
    * delete merge, then compact. */
  private def fixture(): String = {
    val dir = freshDir("fixture")
    VersionedTable.merge(spark, dir,
      (1L to 12L).map(k => (k, s"v$k", k.toInt)).toDF("k", "v", "x"),
      Seq("k"), numBuckets = 8)
    // widening commit: x arrives as long (was int), new column y
    VersionedTable.merge(spark, dir,
      Seq((2L, "V2", 200L, "extra", false), (3L, "", 0L, "", true))
        .toDF("k", "v", "x", "y", "del"),
      Seq("k"), deleteCol = Some("del"), numBuckets = 8)
    dir
  }

  test("read() equals the union-path content across widening and deletes") {
    val dir = fixture()
    // expected state: keys 1..12 minus 3, key 2 updated with y
    val got = VersionedTable.read(spark, dir)
      .select($"k", $"v", $"x", $"y")
      .as[(Long, String, Long, Option[String])].collect().toSet
    val want = ((1L to 12L).filterNot(k => k == 2L || k == 3L)
      .map(k => (k, s"v$k", k, None: Option[String])) :+
      (2L, "V2", 200L, Some("extra"))).toSet
    assert(got === want)
    // and version 0 still reads in ITS schema through the index
    val v0 = VersionedTable.read(spark, dir, Some(0L))
    assert(v0.columns.toSeq === Seq("k", "v", "x"))
    assert(v0.count() === 12L)
  }

  test("a key equality prunes the scan to one bucket's file") {
    val dir = fixture()
    val (all, allFiles) = filesRead(VersionedTable.read(spark, dir))
    assert(all === 11L)
    assert(allFiles > 1L, "fixture must span multiple files for the test to bite")
    val (one, oneFiles) = filesRead(
      VersionedTable.read(spark, dir).filter($"k" === 7L))
    assert(one === 1L)
    assert(oneFiles === 1L, "k = 7 must read exactly its bucket's one file")
  }

  test("an IN list prunes to the union of the keys' buckets") {
    val dir = fixture()
    val (n, files) = filesRead(
      VersionedTable.read(spark, dir).filter($"k".isin(1L, 7L, 11L)))
    assert(n === 3L)
    assert(files <= 3L)
    // updated key: pruned read still sees the LATEST commit's row
    val r = VersionedTable.read(spark, dir).filter($"k" === 2L)
      .select($"v", $"x").as[(String, Long)].collect().toSeq
    assert(r === Seq(("V2", 200L)))
  }

  test("conjunct IN lists intersect; deleted key reads its bucket but no rows") {
    val dir = fixture()
    // (a contradictory k=1 AND k=2 never reaches the index — Catalyst's
    // constraint propagation folds it to an empty relation first)
    val (n0, f0) = filesRead(VersionedTable.read(spark, dir)
      .filter($"k".isin(1L, 2L) && $"k".isin(2L, 5L)))
    assert(n0 === 1L && f0 === 1L, "intersection {2} must read one bucket")
    val (nDel, _) = filesRead(VersionedTable.read(spark, dir).filter($"k" === 3L))
    assert(nDel === 0L)
  }

  test("non-key and partial-key predicates do not prune (soundness)") {
    val dir = fixture()
    val (_, allFiles) = filesRead(VersionedTable.read(spark, dir))
    val (n, files) = filesRead(
      VersionedTable.read(spark, dir).filter($"v" === "v7"))
    assert(n === 1L && files === allFiles,
      "a non-key predicate must not prune buckets")
    // multi-key table: constraining only one key cannot prune
    val dir2 = freshDir("twokey")
    VersionedTable.merge(spark, dir2,
      (1L to 8L).map(k => (k, (k % 2).toInt, s"v$k")).toDF("a", "b", "v"),
      Seq("a", "b"), numBuckets = 4)
    val (_, all2) = filesRead(VersionedTable.read(spark, dir2))
    val (_, part2) = filesRead(
      VersionedTable.read(spark, dir2).filter($"a" === 3L))
    assert(part2 === all2, "half-constrained composite key must not prune")
    // both keys constrained: prunes to one bucket
    val (n2, one2) = filesRead(
      VersionedTable.read(spark, dir2).filter($"a" === 3L && $"b" === 1))
    assert(n2 === 1L && one2 === 1L)
  }

  test("binary-keyed pruning intersects by content, not array reference") {
    val dir = freshDir("binkey")
    val rows = (1 to 12).map(i => (Array.fill(4)(i.toByte), s"v$i"))
    VersionedTable.merge(spark, dir, rows.toDF("k", "v"), Seq("k"), numBuckets = 8)
    val a = Array.fill(4)(7.toByte)
    val b = Array.fill(4)(7.toByte) // equal content, distinct instance
    val (n, files) = filesRead(VersionedTable.read(spark, dir)
      .filter($"k" === lit(a) && $"k" === lit(b)))
    assert(n === 1L, "equal-content binary literals must intersect, not cancel")
    assert(files === 1L)
  }

  test("lookup() rides the pruned index and matches per-key filters") {
    val dir = fixture()
    val got = VersionedTable.lookup(spark, dir,
      Seq(2L, 5L, 99L).toDF("k"))
      .select($"k", $"v").as[(Long, String)].collect().toSet
    assert(got === Set((2L, "V2"), (5L, "v5")))
  }

  test("scan survives compact and restore; parquet pushdown still reaches the scan") {
    val dir = fixture()
    VersionedTable.compact(spark, dir)
    val (n, files) = filesRead(
      VersionedTable.read(spark, dir).filter($"k" === 7L))
    assert(n === 1L && files === 1L)
    VersionedTable.restore(spark, dir, 0L)
    assert(VersionedTable.read(spark, dir).count() === 12L)
    // row-group pushdown: non-key filters still reach the parquet reader
    val plan = VersionedTable.read(spark, dir).filter($"x" > 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThan(x,"),
      s"parquet pushdown must survive the custom FileIndex:\n$plan")
  }

  // ---- data skipping (per-file min/max stats from chunked compact) ---

  /** 400 rows over 4 buckets, x = 0..399 (the range column), then a
    * chunked clusterBy compact: each bucket splits into ~4 x-sorted
    * range-disjoint files with manifest stats. */
  private def skippingFixture(chunks: Int = 4): (String, Long) = {
    val dir = freshDir(s"skip_$chunks")
    VersionedTable.merge(spark, dir,
      (0L until 400L).map(k => (k, k.toInt, s"v$k")).toDF("k", "x", "v"),
      Seq("k"), numBuckets = 4)
    val v = VersionedTable.compact(spark, dir, clusterBy = Seq("x"),
      chunksPerBucket = chunks)
    (dir, v)
  }

  test("chunked compact splits buckets into range-disjoint files with manifest stats") {
    val (dir, v) = skippingFixture()
    val sn = VersionedTable.snapshot(spark, dir, Some(v))
    assert(sn.fileStats.nonEmpty, "chunked clusterBy compact must record stats")
    // every live file has an x entry, and within a bucket the files'
    // [min,max] ranges are pairwise disjoint (the whole point)
    val byBucket = sn.fileStats.toSeq.groupBy(_._1.split("/")(1))
    assert(byBucket.size === 4)
    byBucket.foreach { case (b, files) =>
      assert(files.size >= 3, s"bucket $b must be split (got ${files.size} files)")
      val ranges = files.map { case (_, cols) =>
        val (mn, mx) = cols("x"); (mn.toLong, mx.toLong)
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) =>
          assert(hi < lo2, s"bucket $b chunk ranges overlap: $ranges")
        case _ => ()
      }
    }
    // content identical to the pre-compact table
    assert(VersionedTable.read(spark, dir).count() === 400L)
  }

  test("a range predicate skips files whose stats miss it; result identical") {
    val (dir, _) = skippingFixture()
    val all = filesRead(VersionedTable.read(spark, dir))
    assert(all._2 >= 12L, s"fixture should have >=12 files, got ${all._2}")
    // a narrow range: only ~1 chunk per bucket can hold x in [0, 60)
    val (n, files) = filesRead(
      VersionedTable.read(spark, dir).filter($"x" < 60))
    assert(n === 60L)
    assert(files <= all._2 / 2,
      s"stats must skip most files: read $files of ${all._2}")
    // equality and BETWEEN shapes prune too, and rows stay exact
    val (n2, files2) = filesRead(
      VersionedTable.read(spark, dir).filter($"x" === 250))
    assert(n2 === 1L && files2 <= 4L)
    val (n3, _) = filesRead(VersionedTable.read(spark, dir)
      .filter($"x" >= 100 && $"x" <= 150))
    assert(n3 === 51L)
  }

  test("z-order compact: chunk files tile both dimensions, so either predicate prunes") {
    val dir = freshDir("zskip")
    // (x, y) on a shuffled grid: lexicographic (x, y) sort would give
    // every chunk the FULL y range — only the z-interleave tiles both
    val rows = for { x <- 0L until 40L; y <- 0L until 40L }
      yield (x * 40 + y, x.toInt, y.toInt)
    VersionedTable.merge(spark, dir, rows.toDF("k", "x", "y"),
      Seq("k"), numBuckets = 2)
    VersionedTable.compact(spark, dir, clusterBy = Seq("x", "y"),
      chunksPerBucket = 16, zorder = true)
    val sn = VersionedTable.snapshot(spark, dir)
    assert(sn.layout === Some(VersionedTable.Layout(Seq("x", "y"), 16, zorder = true)))
    val all = filesRead(VersionedTable.read(spark, dir))._2
    assert(all >= 16L, s"fixture should chunk into many files, got $all")
    // a narrow predicate on EACH dimension must skip most files — the
    // lexicographic layout can only do this for the leading column
    val (nx, fx) = filesRead(VersionedTable.read(spark, dir).filter($"x" < 5))
    val (ny, fy) = filesRead(VersionedTable.read(spark, dir).filter($"y" < 5))
    assert(nx === 200L && ny === 200L)
    assert(fx <= all / 2, s"x-predicate must prune on the z layout: $fx of $all")
    assert(fy <= all / 2, s"y-predicate must prune on the z layout: $fy of $all")
    // the lexicographic twin: same data, same chunks, plain clusterBy —
    // the TRAILING column's predicate cannot prune (full y range per file)
    val lex = freshDir("zskip_lex")
    VersionedTable.merge(spark, lex, rows.toDF("k", "x", "y"),
      Seq("k"), numBuckets = 2)
    VersionedTable.compact(spark, lex, clusterBy = Seq("x", "y"),
      chunksPerBucket = 16)
    val allLex = filesRead(VersionedTable.read(spark, lex))._2
    val (_, fyLex) = filesRead(VersionedTable.read(spark, lex).filter($"y" < 5))
    // nearly everything: a boundary chunk (last x-run's tail) can
    // happen to carry a tight y range, so allow a file or two of slack
    assert(fyLex >= allLex - 2,
      s"lexicographic trailing-column predicate reads ~everything: $fyLex of $allLex")
    assert(fy < fyLex / 2,
      s"the z layout must beat lexicographic on the trailing column: $fy vs $fyLex")
    // content equality between the two layouts
    assert(VersionedTable.read(spark, dir).select($"k", $"x", $"y")
      .as[(Long, Int, Int)].collect().toSet ===
      VersionedTable.read(spark, lex).select($"k", $"x", $"y")
        .as[(Long, Int, Int)].collect().toSet)
  }

  test("skipping soundness: wrong-type literals, un-stat'd files, and merges never mis-prune") {
    val (dir, _) = skippingFixture()
    val all = filesRead(VersionedTable.read(spark, dir))._2
    // a predicate that wraps the column in a function must not prune —
    // statsIntervals only reads bare attribute-vs-exact-type-literal
    // shapes; the ROWS are still correct either way. (A cast shape is
    // deliberately not asserted: UnwrapCastInBinaryComparison may
    // legally rewrite it to an exact-type compare that DOES prune.)
    val (nc, filesC) = filesRead(
      VersionedTable.read(spark, dir).filter(abs($"x") === 250))
    assert(nc === 1L && filesC === all,
      "non-attribute predicates must not file-prune (soundness default)")
    // a merge rewrites one bucket COW: the stale chunk stats drop and
    // the table's DECLARED layout makes the merge re-stat its freshly
    // written whole-bucket file — so the moved row's new value is
    // covered by a sound (if wide) range, and the range query stays
    // correct (changed row included)
    VersionedTable.merge(spark, dir,
      Seq((7L, 999, "MOVED")).toDF("k", "x", "v"), Seq("k"), numBuckets = 4)
    val sn = VersionedTable.snapshot(spark, dir)
    assert(sn.fileStats.nonEmpty, "untouched buckets keep their stats")
    val byBucket2 = sn.fileStats.toSeq.groupBy(_._1.split("/")(1))
    assert(byBucket2.size === 4, "the rewritten bucket must be re-stat'd")
    val rewritten = byBucket2.filter(_._2.size == 1) // one whole-bucket file
    assert(rewritten.exists(_._2.head._2("x")._2.toLong >= 999L),
      s"the re-stat'd file must cover the moved value: $rewritten")
    val got = VersionedTable.read(spark, dir).filter($"x" >= 390)
      .select($"k", $"x").as[(Long, Int)].collect().toSet
    assert(got.contains((7L, 999)), "post-merge row must appear in range reads")
    assert(got.size === 11L, s"x>=390 after move: 390..399 + k=7, got $got")
    // restore back to the stat'd version: stats ride along
    val statsV = VersionedTable.versions(spark, dir).max - 1
    VersionedTable.restore(spark, dir, statsV)
    assert(VersionedTable.snapshot(spark, dir).fileStats.size ===
      VersionedTable.snapshot(spark, dir, Some(statsV)).fileStats.size)
  }

  test("non-finite double endpoints never enter the stats; range scans stay plannable") {
    val dir = freshDir("nonfinite")
    // one bucket's chunk carries +Infinity, another -Infinity, another
    // NaN; the rest are plain finite doubles
    val rows = (0 until 200).map { i =>
      val d = i match {
        case 10 => Double.PositiveInfinity
        case 50 => Double.NegativeInfinity
        case 90 => Double.NaN
        case _ => i.toDouble
      }
      (i.toLong, d)
    }
    VersionedTable.merge(spark, dir, rows.toDF("k", "d"),
      Seq("k"), numBuckets = 2)
    VersionedTable.compact(spark, dir, clusterBy = Seq("d"),
      chunksPerBucket = 8)
    val sn = VersionedTable.snapshot(spark, dir)
    // a stat that says "Infinity"/"NaN" would throw NumberFormatException
    // at PLANNING time for every range scan of the table — assert none
    // was recorded, and that finite files still carry usable stats
    val endpoints = sn.fileStats.values.flatMap(_.get("d")).toSeq
    assert(endpoints.nonEmpty, "finite chunks must still be stat'd")
    endpoints.foreach { case (mn, mx) =>
      assert(java.lang.Double.isFinite(mn.toDouble) &&
        java.lang.Double.isFinite(mx.toDouble),
        s"non-finite endpoint leaked into the manifest: ($mn, $mx)")
    }
    // the range scan plans (no NumberFormatException), prunes on the
    // finite files, and returns exact rows
    val all = filesRead(VersionedTable.read(spark, dir))._2
    val (n, files) = filesRead(
      VersionedTable.read(spark, dir).filter($"d" >= 100.0 && $"d" < 120.0))
    assert(n === 20L)
    assert(files < all, s"finite chunks must still prune: $files of $all")
    // the infinity rows themselves are readable (their files simply
    // never prune)
    val inf = VersionedTable.read(spark, dir)
      .filter($"d" === Double.PositiveInfinity).count()
    assert(inf === 1L)
  }

  test("string data skipping: ticker-shaped predicates prune chunk files byte-wise") {
    val dir = freshDir("strskip")
    // 26 tickers × 20 rows, clusterBy the ticker: chunks are
    // range-disjoint in UTF-8 byte order
    val rows = for { t <- 'A' to 'Z'; i <- 0 until 20 }
      yield (t.toLong * 100 + i, s"TICK_$t", i.toLong)
    VersionedTable.merge(spark, dir, rows.toDF("k", "ticker", "x"),
      Seq("k"), numBuckets = 2)
    VersionedTable.compact(spark, dir, clusterBy = Seq("ticker"),
      chunksPerBucket = 8)
    val sn = VersionedTable.snapshot(spark, dir)
    assert(sn.fileStats.values.exists(_.contains("ticker")),
      "string clusterBy column must be stat'd now")
    val all = filesRead(VersionedTable.read(spark, dir))._2
    assert(all >= 12L)
    // equality: the reference's commonest filter shape
    val (n1, f1) = filesRead(
      VersionedTable.read(spark, dir).filter($"ticker" === "TICK_M"))
    assert(n1 === 20L)
    assert(f1 <= all / 2, s"equality must skip most files: $f1 of $all")
    // range
    val (n2, f2) = filesRead(
      VersionedTable.read(spark, dir).filter($"ticker" < "TICK_C"))
    assert(n2 === 40L && f2 < all)
    // IN-list envelope
    val (n3, f3) = filesRead(VersionedTable.read(spark, dir)
      .filter($"ticker".isin("TICK_A", "TICK_B")))
    assert(n3 === 40L && f3 < all)
    // conjunct with a numeric filter still exact
    val (n4, _) = filesRead(VersionedTable.read(spark, dir)
      .filter($"ticker" === "TICK_Z" && $"x" >= 10))
    assert(n4 === 10L)
  }

  test("string stats truncation: long and non-ASCII values widen, never tighten") {
    import graft.sources.{VersionedTable => VT}
    // unit level: short strings pass through
    assert(VT.truncateStringStats("a", "b") === Some(("a", "b")))
    // long min truncates to a PREFIX (≤ the value), long max widens (>)
    val longMin = "m" * 100
    val longMax = "z" * 100
    val Some((tm, tx)) = VT.truncateStringStats(longMin, longMax)
    assert(tm.getBytes("UTF-8").length <= VT.statsMaxStringBytes)
    assert(tx.getBytes("UTF-8").length <= VT.statsMaxStringBytes)
    assert(tm <= longMin && tx > longMax)
    // multi-byte boundary: 3-byte chars must cut on a code-point edge
    val cjk = "中" * 20 // 60 UTF-8 bytes
    val Some((cm, cx)) = VT.truncateStringStats(cjk, cjk)
    assert(cm.getBytes("UTF-8").length % 3 === 0 &&
      cm.getBytes("UTF-8").length <= 30)
    assert(java.util.Arrays.compareUnsigned(
      cx.getBytes("UTF-8"), cjk.getBytes("UTF-8")) > 0,
      "widened max must exceed the value in byte order")
    // increment carrying: a max ending at U+10FFFF carries left
    val hard = "a" + ("􏿿" * 10) // a + 10× U+10FFFF = 41 bytes
    val Some((_, hx)) = VT.truncateStringStats("a", hard)
    assert(java.util.Arrays.compareUnsigned(
      hx.getBytes("UTF-8"), hard.getBytes("UTF-8")) > 0)
    // all-U+10FFFF: unwidenable → None (column dropped, sound)
    assert(VT.truncateStringStats("a", "􏿿" * 12) === None)
    // end-to-end: a table whose string values exceed the cap still
    // answers exactly, and its truncated stats still prune
    val dir = freshDir("strtrunc")
    val rows = (0 until 120).map { i =>
      (i.toLong, f"GROUP_${i / 40}%d_" + ("x" * 60) + f"_$i%03d")
    }
    VersionedTable.merge(spark, dir, rows.toDF("k", "s"),
      Seq("k"), numBuckets = 2)
    VersionedTable.compact(spark, dir, clusterBy = Seq("s"),
      chunksPerBucket = 3)
    val all = filesRead(VersionedTable.read(spark, dir))._2
    val want = rows.filter(_._2 startsWith "GROUP_2").map(_._1).toSet
    val got = VersionedTable.read(spark, dir)
      .filter($"s" >= "GROUP_2" && $"s" < "GROUP_3")
    val (n, f) = filesRead(got.select($"k"))
    assert(n === want.size.toLong)
    assert(f < all, s"truncated stats must still prune: $f of $all")
  }

  test("string skipping soundness beyond the BMP: byte order, not UTF-16 order") {
    val dir = freshDir("strbmp")
    // U+FFFF sorts ABOVE U+1F600 in UTF-16 code units but BELOW it in
    // UTF-8 bytes; values straddle the disagreement
    val emoji = new String(Character.toChars(0x1F600))
    val rows = Seq(
      (1L, "￿"), (2L, emoji), (3L, "aaa"), (4L, "zzz"))
    VersionedTable.merge(spark, dir, rows.toDF("k", "s"),
      Seq("k"), numBuckets = 1)
    VersionedTable.compact(spark, dir, clusterBy = Seq("s"),
      chunksPerBucket = 4)
    // the emoji row must survive a > U+FFFF predicate (byte order says
    // it's greater; a UTF-16 comparison would have pruned its file)
    val got = VersionedTable.read(spark, dir).filter($"s" > "￿")
      .select($"k").as[Long].collect().toSet
    assert(got === Set(2L),
      s"beyond-BMP value must survive byte-ordered skipping: $got")
    // and every row is still reachable exactly
    assert(VersionedTable.read(spark, dir).count() === 4L)
  }

  test("PlanMetrics.filesRead descends into AQE query stages (shuffled plans)") {
    val dir = freshDir("planmetrics")
    VersionedTable.merge(spark, dir,
      (1L to 100L).map(k => (k, k % 7)).toDF("k", "g"),
      Seq("k"), numBuckets = 4)
    // an aggregate puts an exchange above the scan; under AQE the
    // materialized stage becomes a leaf node a plain collect() misses
    val shuffled = VersionedTable.read(spark, dir)
      .groupBy($"g").count()
    assert(graft.util.PlanMetrics.filesRead(shuffled) >= 4L,
      "filesRead must see through ShuffleQueryStageExec")
  }

  test("candidateBuckets' driver-side hash equals VersionedTable.bucketOf for int, long, string and two-column keys") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    val nb = 16
    val df = Seq((7, 7L, "tujuh"), (-3, 1L << 40, ""), (1024, -9L, "ß€"))
      .toDF("i", "l", "s")
    Seq(Seq("i"), Seq("l"), Seq("s"), Seq("i", "s")).foreach { keys =>
      val types = keys.map(k => k -> df.schema(k).dataType).toMap
      df.select(keys.map(col) :+ VersionedTable.bucketOf(keys, nb): _*)
        .collect().foreach { r =>
          val filters = keys.zipWithIndex.map { case (k, i) =>
            EqualTo(AttributeReference(k, types(k))(), Literal.create(r.get(i), types(k)))
          }
          assert(VersionedScan.candidateBuckets(filters, keys, types, nb) ===
            Some(Set(r.getInt(keys.size))), s"keys $keys, row $r")
        }
    }
  }
}
