package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** Lifecycle laws for the versioned copy-on-write table (time travel,
  * snapshot isolation, vacuum, single-writer commit). The end-to-end
  * merge arithmetic itself is oracle-gated by v20; these specs pin the
  * storage semantics the oracle can't see. */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = graft.util.Scratch.dir(s"vtab_spec_$name")
    graft.util.Scratch.deleteRecursively(new java.io.File(d))
    d
  }

  private def state(path: String, asOf: Option[Long] = None): Set[(Long, String)] =
    VersionedTable.read(spark, path, asOf)
      .select($"k", $"v").as[(Long, String)].collect().toSet

  test("merge lifecycle: insert, replace, delete, insert — and every version stays readable") {
    val dir = freshDir("lifecycle")
    val v0 = VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    assert(v0 === 0L)
    val v1 = VersionedTable.merge(spark, dir,
      Seq((2L, "B", false), (3L, "", true), (4L, "d", false))
        .toDF("k", "v", "del"),
      Seq("k"), deleteCol = Some("del"), numBuckets = 4)
    assert(v1 === 1L)
    assert(VersionedTable.versions(spark, dir) === Seq(0L, 1L))
    // snapshot isolation: version 0 is byte-identical after the merge
    assert(state(dir, Some(0L)) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(state(dir, Some(1L)) === Set((1L, "a"), (2L, "B"), (4L, "d")))
    assert(state(dir) === state(dir, Some(1L)))
  }

  test("re-merging the same batch commits a new version with identical content") {
    val dir = freshDir("remerge")
    val batch0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val batch1 = Seq((2L, "B", false), (1L, "", true)).toDF("k", "v", "del")
    VersionedTable.merge(spark, dir, batch0, Seq("k"), numBuckets = 4)
    VersionedTable.merge(spark, dir, batch1, Seq("k"), Some("del"), numBuckets = 4)
    VersionedTable.merge(spark, dir, batch1, Seq("k"), Some("del"), numBuckets = 4)
    assert(state(dir, Some(1L)) === Set((2L, "B")))
    assert(state(dir, Some(2L)) === state(dir, Some(1L)))
  }

  test("a bucket emptied by deletes loses its owner and never resurrects old rows") {
    val dir = freshDir("emptied")
    // numBuckets=1: every key in one bucket, so deleting all keys
    // empties the only bucket
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), numBuckets = 1)
    VersionedTable.merge(spark, dir,
      Seq((1L, "", true), (2L, "", true)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 1)
    assert(state(dir) === Set.empty)
    // and the empty state still carries the schema (read doesn't blow up)
    assert(VersionedTable.read(spark, dir).columns.toSeq === Seq("k", "v"))
    // inserting again works on top of the empty state
    VersionedTable.merge(spark, dir,
      Seq((9L, "z")).toDF("k", "v"), Seq("k"), numBuckets = 1)
    assert(state(dir) === Set((9L, "z")))
  }

  test("schema widening: later commits may add columns; old versions keep their schema") {
    val dir = freshDir("widen")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    VersionedTable.merge(spark, dir,
      Seq((2L, "b", 7L)).toDF("k", "v", "extra"), Seq("k"), numBuckets = 2)
    assert(VersionedTable.read(spark, dir, Some(0L)).columns.toSeq === Seq("k", "v"))
    val latest = VersionedTable.read(spark, dir)
      .select($"k", $"v", $"extra").as[(Long, String, Option[Long])]
      .collect().toSet
    assert(latest === Set((1L, "a", None), (2L, "b", Some(7L))))
  }

  test("vacuum drops old versions and their unreferenced data dirs; retained reads survive") {
    val dir = freshDir("vacuum")
    VersionedTable.merge(spark, dir, Seq((1L, "a")).toDF("k", "v"), Seq("k"), numBuckets = 1)
    VersionedTable.merge(spark, dir, Seq((1L, "b", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 1)
    VersionedTable.merge(spark, dir, Seq((1L, "c", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 1)
    val removed = VersionedTable.vacuum(spark, dir, retainLast = 1)
    // v0's and v1's commit dirs are unreferenced by v2 (numBuckets=1 —
    // each commit rewrote the single bucket)
    assert(removed.size === 2)
    assert(VersionedTable.versions(spark, dir) === Seq(2L))
    assert(state(dir) === Set((1L, "c")))
    val e = intercept[IllegalArgumentException] { VersionedTable.read(spark, dir, Some(0L)) }
    assert(e.getMessage.contains("vacuumed"))
    // data dirs on disk = exactly the referenced one plus _log/_feed
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(left.count(n => n != "_log" && n != "_feed") === 1)
    // and only the retained version's published feed survives
    assert(new java.io.File(dir, "_feed").listFiles()
      .map(_.getName).toSet === Set("commit_version=2"))
  }

  test("vacuum reaps a staged CDC feed a failed merge left behind") {
    val dir = freshDir("vacuum_cdc_tmp")
    VersionedTable.merge(spark, dir, Seq((1L, "a")).toDF("k", "v"), Seq("k"), numBuckets = 1)
    // the shape a merge whose bucket write failed leaves when its feed
    // job outlives the bounded wait: `.cdc_tmp_<commit dir>` with parts
    val orphan = new java.io.File(dir, ".cdc_tmp_d00000001_deadbeef")
    Seq((1L, "a")).toDF("k", "v").write.parquet(orphan.getPath)
    val removed = VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(removed === Seq(orphan.getName))
    assert(!orphan.exists())
    assert(state(dir) === Set((1L, "a")))
  }

  test("vacuum keeps a dir still referenced by an older RETAINED version") {
    val dir = freshDir("vacuum_shared")
    // bucket 0 and bucket 1 written at v0; v1 touches only one bucket,
    // so v0's dir is still referenced by v1's manifest and must survive
    // a retainLast=1 vacuum
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v"),
      Seq("k"), numBuckets = 8)
    VersionedTable.merge(spark, dir, Seq((1L, "A", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 8)
    val removed = VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(removed.isEmpty) // v0's dir still owns the untouched buckets
    assert(state(dir) === Set((1L, "A"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("contracts fail loudly: duplicate keys, null keys, kb column, bucketing drift, second writer") {
    val dir = freshDir("contracts")
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, dir,
        Seq((1L, "a"), (1L, "b")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, dir,
        Seq((Option.empty[Long], "a")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, dir,
        Seq((1L, 0)).toDF("k", "kb"), Seq("k"), numBuckets = 4)
    }
    VersionedTable.merge(spark, dir, Seq((1L, "a")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, dir, Seq((2L, "b")).toDF("k", "v"), Seq("k"), numBuckets = 8)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, dir, Seq((2L, "b")).toDF("k", "v"), Seq("v"), numBuckets = 4)
    }
    // a second writer racing to the same version: simulate by
    // pre-creating the next manifest — the merge must fail on the
    // put-if-absent commit, not silently overwrite
    val next = new java.io.File(dir, "_log/00000001.json")
    val w = new java.io.FileWriter(next); w.write("{}"); w.close()
    intercept[Exception] {
      VersionedTable.merge(spark, dir, Seq((2L, "b")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    }
  }

  test("an empty update batch is a no-op, not a new version") {
    val dir = freshDir("noop")
    VersionedTable.merge(spark, dir, Seq((1L, "a")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    val v = VersionedTable.merge(spark, dir,
      Seq.empty[(Long, String)].toDF("k", "v"), Seq("k"), numBuckets = 4)
    assert(v === 0L)
    assert(VersionedTable.versions(spark, dir) === Seq(0L))
  }

  test("compact collapses the live snapshot to one commit dir without changing content") {
    val dir = freshDir("compact")
    VersionedTable.merge(spark, dir,
      (1L to 32L).map(i => (i, s"v$i")).toDF("k", "v"), Seq("k"), numBuckets = 8)
    VersionedTable.merge(spark, dir, Seq((3L, "V3", false), (99L, "new", false))
      .toDF("k", "v", "del"), Seq("k"), Some("del"), numBuckets = 8)
    VersionedTable.merge(spark, dir, Seq((7L, "", true)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 8)
    val before = state(dir)
    assert(VersionedTable.snapshot(spark, dir).owners.values.toSet.size > 1)
    val v = VersionedTable.compact(spark, dir)
    assert(v === 3L)
    assert(state(dir) === before)
    assert(VersionedTable.snapshot(spark, dir).owners.values.toSet.size === 1)
    // pre-compaction versions still read until vacuumed; then only the
    // compacted dir survives on disk
    assert(state(dir, Some(1L)).contains((3L, "V3")))
    VersionedTable.vacuum(spark, dir, retainLast = 1)
    val left = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n != "_log" && n != "_feed")
    assert(left.length === 1)
    assert(state(dir) === before)
  }

  test("rebucket migrates the layout: content identical, new count enforced, feeds stay cheap, restore crosses back") {
    val dir = freshDir("rebucket")
    VersionedTable.merge(spark, dir,
      (1L to 64L).map(i => (i, s"v$i")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    VersionedTable.merge(spark, dir, Seq((7L, "V7", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 4)
    val before = state(dir)
    val v = VersionedTable.rebucket(spark, dir, 16)
    assert(v === 2L)
    assert(state(dir) === before) // content unchanged
    assert(VersionedTable.snapshot(spark, dir).numBuckets === 16)
    // the rewrite actually re-keyed the layout: one dir per NON-EMPTY
    // new bucket (a 64-key set can leave a 16-bucket layout with a
    // hash-empty bucket, so compare against the recomputed bucket set)
    val expectBuckets = (1L to 64L).toDF("k")
      .select(pmod(xxhash64($"k"), lit(16L)).cast("int").as("b"))
      .distinct().as[Int].collect().toSet
    assert(expectBuckets.size > 4)
    val newDir = VersionedTable.snapshot(spark, dir).owners.values.head
    assert(new java.io.File(s"$dir/$newDir").listFiles()
      .filter(_.getName.startsWith("kb="))
      .map(_.getName.stripPrefix("kb=").toInt).toSet === expectBuckets)
    // a feed across the rebucket is empty on the cheap path
    assert(VersionedTable.changes(spark, dir, 1L, 2L).isEmpty)
    // merges must speak the new count; the old one fails loudly
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, dir, Seq((1L, "x")).toDF("k", "v"),
        Seq("k"), numBuckets = 4)
    }
    VersionedTable.merge(spark, dir, Seq((1L, "X", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 16)
    assert(state(dir) === before - ((1L, "v1")) + ((1L, "X")))
    // lookups prune correctly in the new layout
    assert(VersionedTable.lookup(spark, dir, Seq(7L).toDF("k"))
      .select($"v").as[String].collect().toSeq === Seq("V7"))
    // restore to a PRE-rebucket version restores its bucketing too —
    // its owner dirs are hashed with the old count
    VersionedTable.restore(spark, dir, 1L)
    assert(VersionedTable.snapshot(spark, dir).numBuckets === 4)
    assert(state(dir) === before)
    assert(VersionedTable.lookup(spark, dir, Seq(7L).toDF("k"))
      .select($"v").as[String].collect().toSeq === Seq("V7"))
  }

  test("change feed classifies inserts/deletes/updates; rewrites without row changes feed nothing") {
    val dir = freshDir("cdf")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    val batch1 = Seq((2L, "B", false), (3L, "", true), (4L, "d", false))
      .toDF("k", "v", "del")
    VersionedTable.merge(spark, dir, batch1, Seq("k"), Some("del"), numBuckets = 4)
    val feed = VersionedTable.changes(spark, dir, 0L, 1L)
      .select($"change", $"k", $"v").as[(String, Long, String)].collect().toSet
    // key 1 shares rewritten buckets but its row is content-equal: no feed row
    assert(feed === Set(
      ("update_pre", 2L, "b"), ("update_post", 2L, "B"),
      ("delete", 3L, "c"), ("insert", 4L, "d")))
    // an identical re-merge rewrites buckets but changes no rows
    VersionedTable.merge(spark, dir, batch1, Seq("k"), Some("del"), numBuckets = 4)
    assert(VersionedTable.changes(spark, dir, 1L, 2L).isEmpty)
    // compact rewrites EVERY bucket; the feed across it is still empty
    VersionedTable.compact(spark, dir)
    assert(VersionedTable.changes(spark, dir, 2L, 3L).isEmpty)
    // and the multi-version feed composes: 0→2 equals 0→1 here
    val feed02 = VersionedTable.changes(spark, dir, 0L, 2L)
      .select($"change", $"k", $"v").as[(String, Long, String)].collect().toSet
    assert(feed02 === feed)
  }

  test("maintain: feed-driven view refresh equals recompute; an emptied group vanishes") {
    val dir = freshDir("maintain")
    VersionedTable.merge(spark, dir,
      Seq((1L, "g1", 10L), (2L, "g1", 20L), (3L, "g2", 30L),
        (4L, "g2", 40L), (5L, "g3", 50L)).toDF("k", "grp", "amt"),
      Seq("k"), numBuckets = 4)
    // one batch exercising every maintenance shape at once: a
    // cross-group update (2: g1→g2 — the update_pre/update_post pair
    // must land −1 in g1 and +1 in g2), a same-group amount update
    // (4), a delete that EMPTIES its group (5 was g3's only row), a
    // no-op rewrite (3, identical values — must feed nothing), and an
    // insert (6)
    VersionedTable.merge(spark, dir,
      Seq((2L, "g2", 25L, false), (3L, "g2", 30L, false),
        (4L, "g2", 45L, false), (5L, "g3", 0L, true),
        (6L, "g1", 60L, false)).toDF("k", "grp", "amt", "del"),
      Seq("k"), deleteCol = Some("del"), numBuckets = 4)
    def viewOf(asOf: Long) = VersionedTable.read(spark, dir, Some(asOf))
      .groupBy($"grp").agg(count(lit(1)).as("n"), sum($"amt").as("amt"))
    val maintained = VersionedTable.maintain(
      viewOf(0L), VersionedTable.changes(spark, dir, 0L, 1L),
      Seq("grp"), "n", Seq("amt"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"grp", $"n", $"amt").as[(String, Long, Long)].collect().toSet
    assert(rows(maintained) === rows(viewOf(1L)))
    assert(rows(maintained) ===
      Set(("g1", 2L, 70L), ("g2", 3L, 100L))) // g3 emptied out
  }

  test("materialized and derived change feeds agree, including multi-commit collapse") {
    val dir = freshDir("cdf_paths")
    VersionedTable.merge(spark, dir,
      (1L to 6L).map(i => (i, s"a$i")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    // v1: update (1, 4), delete (2), no-op rewrite (3), insert (7)
    VersionedTable.merge(spark, dir,
      Seq((1L, "B1", false), (2L, "", true), (3L, "a3", false),
        (4L, "B4", false), (7L, "g", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 4)
    // v2: update 1 BACK to a1 (round-trip), delete 4 (update-then-
    // delete), delete 7 (insert-then-delete), update (5), insert (8)
    VersionedTable.merge(spark, dir,
      Seq((1L, "a1", false), (4L, "", true), (7L, "", true),
        (5L, "B5", false), (8L, "h", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 4)
    def feed(from: Long, to: Long, m: Boolean): Set[(String, Long, String)] =
      VersionedTable.changes(spark, dir, from, to, materialized = m)
        .select($"change", $"k", $"v").as[(String, Long, String)]
        .collect().toSet
    for ((f, t) <- Seq((0L, 1L), (1L, 2L), (0L, 2L)))
      assert(feed(f, t, m = true) === feed(f, t, m = false),
        s"paths diverge on $f->$t")
    // the collapsed 0→2 diff: round-trips and insert-then-delete emit
    // nothing; update-then-delete emits a delete with the FROM value
    assert(feed(0L, 2L, m = true) === Set(
      ("delete", 2L, "a2"), ("delete", 4L, "a4"),
      ("update_pre", 5L, "a5"), ("update_post", 5L, "B5"),
      ("insert", 8L, "h")))
  }

  test("vacuum keeps a dir whose buckets were overwritten but whose feed a retained version owns") {
    val dir = freshDir("vacuum_cdc")
    // numBuckets=1: each merge rewrites the only bucket, so v1's dir
    // is owner-unreferenced the moment v2 commits — but v1's manifest
    // (retained below) still points at v1's _cdc
    VersionedTable.merge(spark, dir, Seq((1L, "a")).toDF("k", "v"),
      Seq("k"), numBuckets = 1)
    VersionedTable.merge(spark, dir, Seq((1L, "b", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 1)
    VersionedTable.merge(spark, dir, Seq((1L, "c", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 1)
    VersionedTable.vacuum(spark, dir, retainLast = 2)
    val feed = VersionedTable.changes(spark, dir, 1L, 2L)
    assert(feed.select($"change", $"k", $"v").as[(String, Long, String)]
      .collect().toSet ===
      Set(("update_pre", 1L, "b"), ("update_post", 1L, "c")))
    assert(scannedFiles(feed).forall(_.contains("/_cdc/")))
  }

  test("published feed streams every committed merge exactly once, heals, skips creation/restore") {
    val dir = freshDir("feed_stream")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    VersionedTable.merge(spark, dir,
      Seq((2L, "B", false), (3L, "", true), (4L, "d", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 4)
    VersionedTable.merge(spark, dir,
      Seq((5L, "e", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 4)
    def published = Option(new java.io.File(dir, "_feed").listFiles())
      .map(_.map(_.getName).filter(_.startsWith("commit_version=")).toSet)
      .getOrElse(Set.empty[String])
    // creation (v0) publishes nothing — consumers bootstrap from the
    // v0 snapshot; each merge published its own feed at commit time
    assert(published === Set("commit_version=1", "commit_version=2"))
    // healing: a feed dir deleted BELOW the sweep watermark (tampering/
    // partial restore — not a crash, which stays above the watermark
    // and self-heals) is repaired by an explicit rescan sweep; the
    // routine per-commit sweep stays O(new versions) by design
    // (study_r14.json manifest_scale measures the difference)
    graft.util.Scratch.deleteRecursively(new java.io.File(dir, "_feed/commit_version=2"))
    VersionedTable.merge(spark, dir,
      Seq((6L, "f", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 4)
    assert(published === Set("commit_version=1", "commit_version=3"),
      "the watermarked sweep must NOT re-open old manifests")
    VersionedTable.publishFeeds(spark, dir, rescan = true)
    assert(published ===
      Set("commit_version=1", "commit_version=2", "commit_version=3"))
    // a restore commit publishes nothing (derived-only diff)
    VersionedTable.restore(spark, dir, 0L)
    VersionedTable.publishFeeds(spark, dir)
    assert(!published.contains("commit_version=4"))
    // the stream over _feed = the per-version feeds, version-stamped
    val got = scala.collection.mutable.Set.empty[(Long, String, Long, String)]
    val collectBatch: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (b, _) => {
        got.synchronized { got ++= b
          .select($"commit_version", $"change", $"k", $"v")
          .as[(Long, String, Long, String)].collect() }
        ()
      }
    val q = VersionedTable.changeFeedStream(spark, dir).writeStream
      .foreachBatch(collectBatch)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("feed_stream_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val expected = (1L to 3L).flatMap { v =>
      VersionedTable.changes(spark, dir, v - 1, v)
        .select(lit(v), $"change", $"k", $"v")
        .as[(Long, String, Long, String)].collect()
    }.toSet
    assert(got.toSet === expected)
  }

  test("a feed batch reads its listed commit dirs: same rows, no 'All paths were ignored' WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val dir = freshDir("feed_batch")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    VersionedTable.merge(spark, dir,
      Seq((2L, "B", false), (3L, "", true), (4L, "d", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 4)
    VersionedTable.merge(spark, dir,
      Seq((5L, "e", false)).toDF("k", "v", "del"), Seq("k"), Some("del"), numBuckets = 4)
    VersionedTable.merge(spark, dir,
      Seq((1L, "A", false)).toDF("k", "v", "del"), Seq("k"), Some("del"), numBuckets = 4)
    val ignored = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probe = new AbstractAppender("feed-batch-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith(".DataSource") &&
            e.getMessage.getFormattedMessage.contains("All paths were ignored"))
          ignored.add(e.getMessage.getFormattedMessage)
    }
    probe.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(probe, Level.WARN, null)
    ctx.updateLoggers()
    def rows(from: Long, to: Long) = VersionedTable.feedBatch(spark, dir, from, to)
      .select($"commit_version", $"change", $"k", $"v")
      .as[(Long, String, Long, String)].collect().toSet
    val (mid, all, empty, rootWarns) = try {
      val got = (rows(1L, 3L), rows(-1L, 3L), VersionedTable.feedBatch(spark, dir, 3L, 3L))
      val before = ignored.size
      // the guard sees the WARN a read of the feed root logs
      spark.read.parquet(s"$dir/_feed").count()
      (got._1, got._2, got._3, ignored.size - before)
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender(probe.getName)
      ctx.updateLoggers()
      probe.stop()
    }
    def expected(vs: Seq[Long]) = vs.flatMap { v =>
      VersionedTable.changes(spark, dir, v - 1, v)
        .select(lit(v), $"change", $"k", $"v")
        .as[(Long, String, Long, String)].collect()
    }.toSet
    assert(mid === expected(Seq(2L, 3L)))
    assert(all === expected(Seq(1L, 2L, 3L)))
    assert(all.map(_._1) === Set(1L, 2L, 3L))
    assert(empty.count() === 0L)
    assert(empty.schema === VersionedTable.feedBatch(spark, dir, 0L, 3L).schema)
    assert(empty.schema.last.name === "commit_version")
    assert(rootWarns === 1, "the probe must see the root read's WARN")
    assert(ignored.size === 1, s"feed batches logged: $ignored")
  }

  test("readStream.format(\"graft\"): provider stream equals the programmatic feed stream; offsets resume by commit version") {
    val dir = freshDir("graft_source_stream")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    VersionedTable.merge(spark, dir,
      Seq((2L, "B", false), (3L, "", true), (4L, "d", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 4)
    def collectVia(df: org.apache.spark.sql.DataFrame,
        ckpt: String): Set[(Long, String, Long, String)] = {
      val got = scala.collection.mutable.Set.empty[(Long, String, Long, String)]
      val cb: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, _) => {
        got.synchronized { got ++= b
          .select($"commit_version", $"change", $"k", $"v")
          .as[(Long, String, Long, String)].collect() }
        ()
      }
      val q = df.writeStream.foreachBatch(cb)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      got.toSet
    }
    def tmpCkpt() = java.nio.file.Files
      .createTempDirectory("graft_source_ckpt").toString
    val provCkpt = tmpCkpt()
    val viaProvider =
      collectVia(spark.readStream.format("graft").load(dir), provCkpt)
    val viaFileSource =
      collectVia(VersionedTable.changeFeedStream(spark, dir), tmpCkpt())
    assert(viaProvider.nonEmpty)
    assert(viaProvider === viaFileSource,
      "the provider-path rows must be interchangeable with changeFeedStream's")
    // schema parity too (same columns, same order)
    assert(spark.readStream.format("graft").load(dir).schema ===
      VersionedTable.changeFeedStream(spark, dir).schema)
    // offsets are COMMIT VERSIONS in the stream's checkpoint: resuming
    // after a new merge delivers exactly the new version's feed
    VersionedTable.merge(spark, dir,
      Seq((5L, "e", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 4)
    val resumed =
      collectVia(spark.readStream.format("graft").load(dir), provCkpt)
    assert(resumed.map(_._1) === Set(2L), // v0 creation publishes no feed
      s"resume must deliver only the new commit's feed, got $resumed")
    assert(resumed.map(r => (r._2, r._3, r._4)) ===
      Set(("insert", 5L, "e")))
    // startingVersion (Delta CDF parity): deliver only v >= it
    val fromV2 = collectVia(spark.readStream.format("graft")
      .option("startingVersion", 2).load(dir), tmpCkpt())
    assert(fromV2.map(_._1) === Set(2L),
      s"startingVersion=2 must skip v1's feed, got $fromV2")
    // maxVersionsPerTrigger paces catch-up into one-version batches
    val batchVersions = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val paced = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", 1).load(dir)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val vs = b.select($"commit_version").as[Long].collect().toSet
          batchVersions.synchronized { batchVersions += vs }
          ()
      }
      .option("checkpointLocation", tmpCkpt())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    paced.awaitTermination()
    val nonEmpty = batchVersions.filter(_.nonEmpty)
    assert(nonEmpty.forall(_.size == 1),
      s"each paced batch must hold ONE version, got $batchVersions")
    assert(nonEmpty.flatten.toSet === Set(1L, 2L),
      "pacing must still deliver every version exactly once")
    // a declared schema is refused: the feed's schema is the table's
    val e = intercept[Exception] {
      spark.readStream.format("graft")
        .schema(new org.apache.spark.sql.types.StructType().add("x", "int"))
        .load(dir).writeStream.format("noop").start()
    }
    assert(e.getMessage.contains("feed schema"))
  }

  test("a batch with a coercibly-narrower column type widens through merge AND feed") {
    val dir = freshDir("coerce")
    VersionedTable.merge(spark, dir,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "amt"), Seq("k"), numBuckets = 2)
    // the batch carries amt as INT; unionByName widens the write, so
    // the feed must diff in the widened type instead of rejecting a
    // merge the write itself accepts
    VersionedTable.merge(spark, dir,
      Seq((2L, 25), (3L, 30)).toDF("k", "amt"), Seq("k"), numBuckets = 2)
    assert(VersionedTable.read(spark, dir).schema("amt").dataType ===
      org.apache.spark.sql.types.LongType)
    for (m <- Seq(true, false)) {
      val feed = VersionedTable.changes(spark, dir, 0L, 1L, materialized = m)
        .select($"change", $"k", $"amt").as[(String, Long, Long)]
        .collect().toSet
      assert(feed === Set(("update_pre", 2L, 20L),
        ("update_post", 2L, 25L), ("insert", 3L, 30L)), s"materialized=$m")
    }
  }

  test("catch-up FROM a vacuumed version works on the materialized path; derived fails loudly") {
    val dir = freshDir("vac_catchup")
    // numBuckets=1: every merge rewrites the only bucket, so old dirs
    // survive vacuum only through their retained manifests' feeds
    VersionedTable.merge(spark, dir,
      Seq((1L, "a")).toDF("k", "v"), Seq("k"), numBuckets = 1)
    for (v <- Seq("b", "c", "d"))
      VersionedTable.merge(spark, dir,
        Seq((1L, v, false)).toDF("k", "v", "del"),
        Seq("k"), Some("del"), numBuckets = 1)
    VersionedTable.vacuum(spark, dir, retainLast = 2) // keeps v2, v3
    // the consumer last synced at v1 (now vacuumed): feeds 2 and 3 are
    // retained and carry the before-state, so catch-up still works
    val feed = VersionedTable.changes(spark, dir, 1L, 3L)
      .select($"change", $"k", $"v").as[(String, Long, String)]
      .collect().toSet
    assert(feed === Set(("update_pre", 1L, "b"), ("update_post", 1L, "d")))
    // the derived path must rescan version 1's buckets — gone: loud
    intercept[IllegalArgumentException] {
      VersionedTable.changes(spark, dir, 1L, 3L, materialized = false)
    }
  }

  test("change feed across a schema-widening commit null-fills the absent column on the old side") {
    val dir = freshDir("cdf_widen")
    VersionedTable.merge(spark, dir, Seq((1L, "a")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    VersionedTable.merge(spark, dir,
      Seq((1L, "a", 7L)).toDF("k", "v", "extra"), Seq("k"), numBuckets = 2)
    for (m <- Seq(true, false)) {
      val feed = VersionedTable.changes(spark, dir, 0L, 1L, materialized = m)
        .select($"change", $"k", $"v", $"extra")
        .as[(String, Long, String, Option[Long])].collect().toSet
      assert(feed === Set(
        ("update_pre", 1L, "a", None), ("update_post", 1L, "a", Some(7L))),
        s"materialized=$m")
    }
  }

  test("restore rolls back by manifest alone: no data dir written, history intact, feed inverts") {
    val dir = freshDir("restore")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    VersionedTable.merge(spark, dir,
      Seq((1L, "A", false), (2L, "", true), (3L, "c", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 4)
    def dataDirs = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_ != "_log").toSet
    val before = dataDirs
    val v = VersionedTable.restore(spark, dir, 0L)
    assert(v === 2L)
    assert(dataDirs === before) // zero data movement
    assert(state(dir) === state(dir, Some(0L)))
    assert(state(dir, Some(1L)) === Set((1L, "A"), (3L, "c"))) // history intact
    // the feed across the restore is the exact inverse of the 0→1 feed
    val fwd = VersionedTable.changes(spark, dir, 0L, 1L)
      .select($"change", $"k", $"v").as[(String, Long, String)].collect().toSet
    val back = VersionedTable.changes(spark, dir, 1L, 2L)
      .select($"change", $"k", $"v").as[(String, Long, String)].collect().toSet
    val inverse = fwd.map {
      case ("insert", k, x) => ("delete", k, x)
      case ("delete", k, x) => ("insert", k, x)
      case ("update_pre", k, x) => ("update_post", k, x)
      case ("update_post", k, x) => ("update_pre", k, x)
    }
    assert(back === inverse)
    // a vacuum that keeps the restored version keeps its (old) dirs
    VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(state(dir) === Set((1L, "a"), (2L, "b")))
  }

  test("a type-changed column is rejected at the write boundary, so feeds never see one") {
    val dir = freshDir("cdf_type")
    VersionedTable.merge(spark, dir, Seq((1L, 1L)).toDF("k", "v"), Seq("k"), numBuckets = 2)
    // the survivors ∪ upserts union type-checks at analysis: widening
    // may ADD columns but never retype one — which is what guarantees
    // changes()' single read schema exists (its own type require is
    // defense against hand-edited manifests)
    intercept[Exception] {
      VersionedTable.merge(spark, dir, Seq((2L, "s")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    }
    assert(VersionedTable.versions(spark, dir) === Seq(0L))
  }

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    df.collect() // force AQE to finalize the plan
    val plan = df.queryExecution.executedPlan
    def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        leaves(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        leaves(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        leaves(r.child)
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        // distinct: toPartitionArray yields one entry per SPLIT, and a
        // file above maxPartitionBytes must still count once
        s.selectedPartitions.toPartitionArray.toSeq
          .map(_.urlEncodedPath).distinct
      case other => other.children.flatMap(leaves) ++
        other.subqueries.flatMap(leaves)
    }
    leaves(plan)
  }

  private def filesScanned(df: org.apache.spark.sql.DataFrame): Int =
    scannedFiles(df).size

  test("change feed and lookup read only the differing/requested buckets, one file each") {
    val dir = freshDir("prune_feed")
    // v0: 64 keys over 16 buckets; v1 touches exactly one key
    VersionedTable.merge(spark, dir,
      (1L to 64L).map(i => (i, s"v$i")).toDF("k", "v"), Seq("k"), numBuckets = 16)
    VersionedTable.merge(spark, dir, Seq((7L, "V7", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 16)
    // merge writes ONE file per bucket: v0's commit dir has 16 single-file
    // bucket dirs (the layout claim behind the pruning arithmetic below)
    val sn0 = VersionedTable.snapshot(spark, dir, Some(0L))
    val d0 = sn0.owners.values.head
    new java.io.File(s"$dir/$d0").listFiles().filter(_.getName.startsWith("kb="))
      .foreach { b =>
        assert(b.listFiles().count(_.getName.endsWith(".parquet")) === 1,
          s"bucket dir ${b.getName} should hold exactly one file")
      }
    // the default 0→1 feed reads ONLY v1's batch-sized _cdc files —
    // no bucket data however the batch's keys scatter
    val feed = VersionedTable.changes(spark, dir, 0L, 1L)
    assert(feed.select($"change", $"k", $"v").as[(String, Long, String)]
      .collect().toSet === Set(("update_pre", 7L, "v7"), ("update_post", 7L, "V7")))
    val feedFiles = scannedFiles(feed)
    assert(feedFiles.nonEmpty && feedFiles.forall(_.contains("/_cdc/")))
    // the derived path reads key 7's bucket from each side: exactly 2
    val derived = VersionedTable.changes(spark, dir, 0L, 1L, materialized = false)
    assert(derived.select($"change", $"k", $"v").as[(String, Long, String)]
      .collect().toSet === Set(("update_pre", 7L, "v7"), ("update_post", 7L, "V7")))
    assert(filesScanned(derived) === 2)
    // a 2-key lookup reads at most 2 bucket files (1 if they collide)
    val got = VersionedTable.lookup(spark, dir, Seq(7L, 8L).toDF("k"))
    assert(got.select($"k", $"v").as[(Long, String)].collect().toSet ===
      Set((7L, "V7"), (8L, "v8")))
    assert(filesScanned(got) <= 2)
    // pinned to v0 it serves the old row
    val old = VersionedTable.lookup(spark, dir, Seq(7L).toDF("k"), Some(0L))
    assert(old.select($"v").as[String].collect().toSeq === Seq("v7"))
    // wrong key columns fail loudly
    intercept[IllegalArgumentException] {
      VersionedTable.lookup(spark, dir, Seq(1L).toDF("wrong"))
    }
  }

  test("merge reads only the affected buckets (manifest-level pruning)") {
    val dir = freshDir("pruning")
    VersionedTable.merge(spark, dir,
      (1L to 64L).map(i => (i, s"v$i")).toDF("k", "v"), Seq("k"), numBuckets = 16)
    // one-key update: the staged commit dir must contain exactly the
    // key's bucket — proof the rewrite was scoped to it
    VersionedTable.merge(spark, dir, Seq((7L, "V7", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 16)
    val sn = VersionedTable.snapshot(spark, dir)
    val newDir = sn.owners.values.toSet
      .find(_.startsWith("d00000001_")).get
    val staged = new java.io.File(s"$dir/$newDir").listFiles()
      .map(_.getName).filter(_.startsWith("kb=")).toSeq
    assert(staged.size === 1)
    // and the merged state is intact
    val got = VersionedTable.read(spark, dir)
      .select($"k", $"v").as[(Long, String)].collect().toMap
    assert(got(7L) === "V7" && got(8L) === "v8" && got.size === 64)
  }

  test("clusterBy compact: content identical, bucket files sorted on the cluster column") {
    val dir = freshDir("cluster_compact")
    // payload deliberately anti-sorted vs key order
    VersionedTable.merge(spark, dir,
      (1L to 64L).map(k => (k, 1000L - k * 7, s"v$k")).toDF("k", "x", "v"),
      Seq("k"), numBuckets = 4)
    VersionedTable.merge(spark, dir,
      Seq((7L, 9999L, "V7", false)).toDF("k", "x", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 4)
    val before = VersionedTable.read(spark, dir)
      .as[(Long, Long, String)].collect().toSet
    VersionedTable.compact(spark, dir, clusterBy = Seq("x"))
    val after = VersionedTable.read(spark, dir)
      .as[(Long, Long, String)].collect().toSet
    assert(after === before, "clusterBy compaction must not change content")
    // every bucket file's rows are x-ascending (row groups range-disjoint)
    val sn = VersionedTable.snapshot(spark, dir)
    assert(sn.owners.values.toSet.size === 1)
    sn.owners.toSeq.foreach { case (b, d) =>
      val xs = spark.read.parquet(s"$dir/$d/kb=$b")
        .select($"x").as[Long].collect().toSeq
      assert(xs === xs.sorted, s"bucket $b file must be sorted on x")
    }
  }

  /** Bucket of key k under numBuckets=16, computed the same way merge
    * does (deterministic interleavings below need provably disjoint /
    * overlapping keys, not lucky ones). */
  private def bucketOf(k: Long, numBuckets: Long = 16L): Int =
    Seq(k).toDF("k")
      .select(pmod(xxhash64($"k"), lit(numBuckets)).cast("int")).collect()(0).getInt(0)

  test("a batch whose key column type drifts is upcast to the table's key type (hash-consistent) or rejected") {
    val dir = freshDir("keytype")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), numBuckets = 8)
    // int batch key on a long-keyed table: MUST replace key 1, not
    // duplicate it under a different hash (xxhash64(int) != xxhash64(long))
    VersionedTable.merge(spark, dir,
      Seq((1, "A")).toDF("k", "v"), Seq("k"), numBuckets = 8)
    assert(state(dir) === Set((1L, "A"), (2L, "b")))
    // and the pruned read finds the replaced row where it now lives
    assert(VersionedTable.read(spark, dir).filter($"k" === 1L)
      .select($"v").as[String].collect().toSeq === Seq("A"))
    // lossy / non-coercible key types fail loudly
    val e = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, dir,
        Seq(("1", "X")).toDF("k", "v"), Seq("k"), numBuckets = 8)
    }
    assert(e.getMessage.contains("key column"))
  }

  test("optimistic commit: a disjoint-bucket race rebases — both merges land, feeds compose") {
    val dir = freshDir("occ_disjoint")
    VersionedTable.merge(spark, dir,
      (1L to 8L).map(k => (k, s"a$k")).toDF("k", "v"), Seq("k"), numBuckets = 16)
    val k1 = 1L
    val k2 = (2L to 50L).find(k => bucketOf(k) != bucketOf(k1)).get
    // the competing writer commits from inside this merge's pre-commit
    // seam, so THIS merge deterministically loses the manifest race
    VersionedTable.beforeCommitHook = () => {
      VersionedTable.merge(spark, dir,
        Seq((k1, "A", false)).toDF("k", "v", "del"),
        Seq("k"), Some("del"), numBuckets = 16)
      ()
    }
    val vB = VersionedTable.merge(spark, dir,
      Seq((k2, "B", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 16)
    assert(vB === 2L, "the loser must rebase onto the winner's version")
    val got = state(dir)
    assert(got.contains((k1, "A")) && got.contains((k2, "B")),
      s"both racing merges must be applied: $got")
    assert(got.size === 8)
    // both commits' materialized feeds exist and collapse to the true diff
    val ch = VersionedTable.changes(spark, dir, 0L, 2L)
      .filter($"change" === "update_post")
      .select($"k", $"v").as[(Long, String)].collect().toSet
    assert(ch === Set((k1, "A"), (k2, "B")))
  }

  test("optimistic commit: four THREAD-parallel bucket-disjoint merges all land, in some serial order") {
    val dir = freshDir("occ_threads")
    VersionedTable.merge(spark, dir,
      (1L to 8L).map(k => (k, s"a$k")).toDF("k", "v"), Seq("k"), numBuckets = 16)
    // four keys in four DISTINCT buckets: any interleaving must succeed
    // (shared buckets could legitimately conflict, which is not what
    // this test is about)
    val picked = scala.collection.mutable.LinkedHashMap[Int, Long]()
    var k = 100L
    while (picked.size < 4) {
      val b = bucketOf(k)
      if (!picked.contains(b)) picked(b) = k
      k += 1
    }
    val keys = picked.values.toSeq
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = keys.map { kk =>
      Future {
        VersionedTable.merge(spark, dir,
          Seq((kk, s"t$kk")).toDF("k", "v"), Seq("k"), numBuckets = 16)
      }
    }
    val versions = Await.result(Future.sequence(fs), 120.seconds)
    assert(versions.sorted === Seq(1L, 2L, 3L, 4L),
      s"each racing merge must commit exactly one version: $versions")
    val got = state(dir)
    keys.foreach(kk => assert(got.contains((kk, s"t$kk")), s"lost merge of $kk"))
    assert(got.size === 12)
    // history attributes each commit's changed buckets correctly
    val h = VersionedTable.history(spark, dir)
      .select($"version", $"buckets_changed", $"has_feed")
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(h.map(_._1) === Seq(0L, 1L, 2L, 3L, 4L))
    assert(h.tail.forall(_._2 === 1L), s"each 1-key merge changes one bucket: $h")
    assert(h.head._3 === false && h.tail.forall(_._3 === true))
    // the head hint survived the four-writer race: best-effort and
    // monotonic, but NEVER wrong — latestVersion must agree with the
    // full listing whatever interleaving the hint writes landed in
    assert(VersionedTable.latestVersion(spark, dir) ===
      Some(VersionedTable.versions(spark, dir).max))
  }

  test("optimistic commit: with retries pinned to 0, overlapping buckets, schema change, and creation races conflict loudly") {
    val dir = freshDir("occ_conflict")
    VersionedTable.merge(spark, dir,
      (1L to 8L).map(k => (k, s"a$k")).toDF("k", "v"), Seq("k"), numBuckets = 16)
    // same-bucket overlap: the winner rewrote the very bucket we staged
    val k1 = 1L
    val sameB = (2L to 200L).find(k => bucketOf(k) == bucketOf(k1)).get
    VersionedTable.beforeCommitHook = () => {
      VersionedTable.merge(spark, dir,
        Seq((k1, "A", false)).toDF("k", "v", "del"),
        Seq("k"), Some("del"), numBuckets = 16)
      ()
    }
    val e1 = intercept[IllegalStateException] {
      VersionedTable.merge(spark, dir,
        Seq((sameB, "B", false)).toDF("k", "v", "del"),
        Seq("k"), Some("del"), numBuckets = 16, maxConflictRetries = 0)
    }
    assert(e1.getMessage.contains("rewrote bucket"))
    // interleaved schema widening on a DISJOINT key still conflicts:
    // committing our (narrower) schema would silently drop the column
    val k2 = (2L to 50L).find(k => bucketOf(k) != bucketOf(k1)).get
    VersionedTable.beforeCommitHook = () => {
      VersionedTable.merge(spark, dir,
        Seq((k1, "A2", "wide", false)).toDF("k", "v", "w", "del"),
        Seq("k"), Some("del"), numBuckets = 16)
      ()
    }
    val e2 = intercept[IllegalStateException] {
      VersionedTable.merge(spark, dir,
        Seq((k2, "B2", false)).toDF("k", "v", "del"),
        Seq("k"), Some("del"), numBuckets = 16, maxConflictRetries = 0)
    }
    assert(e2.getMessage.contains("schema changed"))
    // creation race: two writers initializing the same empty table
    val dir2 = freshDir("occ_create")
    VersionedTable.beforeCommitHook = () => {
      VersionedTable.merge(spark, dir2,
        Seq((1L, "first")).toDF("k", "v"), Seq("k"), numBuckets = 16)
      ()
    }
    val e3 = intercept[IllegalStateException] {
      VersionedTable.merge(spark, dir2,
        Seq((2L, "second")).toDF("k", "v"), Seq("k"), numBuckets = 16,
        maxConflictRetries = 0)
    }
    assert(e3.getMessage.contains("CREATION"))
    // the losers' staged orphan dirs are swept by vacuum, winners intact
    assert(state(dir2) === Set((1L, "first")))
    VersionedTable.vacuum(spark, dir2)
    assert(state(dir2) === Set((1L, "first")))
  }

  test("optimistic commit: four THREAD-parallel SAME-bucket merges all land via bounded recompute-retry, no caller retry") {
    val dir = freshDir("occ_retry")
    VersionedTable.merge(spark, dir,
      (1L to 8L).map(k => (k, s"a$k")).toDF("k", "v"), Seq("k"), numBuckets = 16)
    // four keys that all hash to ONE bucket: every interleaving is a
    // TRUE conflict (rebase impossible — the winner rewrote the very
    // bucket the loser staged), so only merge's internal
    // recompute-and-retry can land them all
    val b0 = bucketOf(100L)
    val keys = (100L to 4000L).filter(k => bucketOf(k) == b0).take(4)
    assert(keys.size === 4)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = keys.map { kk =>
      Future {
        VersionedTable.merge(spark, dir,
          Seq((kk, s"t$kk")).toDF("k", "v"), Seq("k"), numBuckets = 16)
      }
    }
    val versions = Await.result(Future.sequence(fs), 180.seconds)
    assert(versions.sorted === Seq(1L, 2L, 3L, 4L),
      s"each racing merge must land exactly one version: $versions")
    val got = state(dir)
    keys.foreach(kk => assert(got.contains((kk, s"t$kk")), s"lost merge of $kk"))
    assert(got.size === 12)
    // the materialized feeds across the retried commits still compose
    // to the true diff — a retry recomputed its feed, never replayed a
    // stale one
    val ch = VersionedTable.changes(spark, dir, 0L, 4L)
      .filter($"change" === "insert")
      .select($"k", $"v").as[(Long, String)].collect().toSet
    assert(ch === keys.map(k => (k, s"t$k")).toSet)
  }

  test("lookup aligns a type-drifted key batch to the table's key type (or rejects a lossy one)") {
    val dir = freshDir("lookup_keytype")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      Seq("k"), numBuckets = 8)
    // int-typed probe on a long-keyed table: xxhash64(int) !=
    // xxhash64(long), so without alignment the candidate buckets are
    // wrong and rows silently vanish
    val got = VersionedTable.lookup(spark, dir, Seq(1, 3).toDF("k"))
      .select($"k", $"v").as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a"), (3L, "c")))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.lookup(spark, dir, Seq("1").toDF("k")).collect()
    }
    assert(e.getMessage.contains("key column"))
  }

  test("vacuum sweeps orphan commit temps from _log (crashed writer) once their manifest exists") {
    val dir = freshDir("vacuum_tmp")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    // simulate a writer that crashed between staging the temp manifest
    // and linking it: the temp survives in _log with no finally-delete
    val log = new java.io.File(dir, "_log")
    val orphan = new java.io.File(log, ".tmp_0_deadbeef")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    VersionedTable.vacuum(spark, dir)
    assert(!orphan.exists(), "orphan temp whose manifest exists must be swept")
    // a FRESH temp for a NOT-yet-committed version is left alone (it
    // could be a live writer mid-commit)
    val live = new java.io.File(log, ".tmp_99_cafebabe")
    java.nio.file.Files.write(live.toPath, Array[Byte](1))
    VersionedTable.vacuum(spark, dir)
    assert(live.exists(), "a young temp for an uncommitted version must survive")
    live.delete()
    assert(state(dir) === Set((1L, "a")))
  }

  test("maintainTable: table-to-table IVM at per-user cardinality equals the recompute, zero driver rows") {
    val dir = freshDir("ivm_table")
    val viewDir = freshDir("ivm_view")
    // base table keyed by a HIGH-cardinality key (per-event), view
    // keyed by user_id — the shape whose group count outgrows any
    // driver-held Seq; here the law is what matters: after N feed
    // applications the view table's snapshot EQUALS the recompute
    val n = 3000
    val rows = (1 to n).map(i => (i.toLong, (i % 997).toLong, (i % 13 + 1).toLong))
    val base = rows.toDF("event_id", "user_id", "cents")
    VersionedTable.merge(spark, dir, base, Seq("event_id"), numBuckets = 16)
    // bootstrap the view from v0
    graft.sources.VersionedTable.merge(spark, viewDir,
      VersionedTable.read(spark, dir, Some(0L))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"), sum($"cents").as("cents")),
      Seq("user_id"), numBuckets = 8)
    // three correction commits: replace, insert, delete — then apply
    // each version's feed to the view table, one maintainTable per feed
    VersionedTable.merge(spark, dir,
      Seq((5L, 9999L, 100L, false), (n + 1L, 5000L, 7L, false))
        .toDF("event_id", "user_id", "cents", "del"),
      Seq("event_id"), Some("del"), numBuckets = 16)
    VersionedTable.merge(spark, dir,
      Seq((7L, 0L, 0L, true), (8L, 0L, 0L, true), (n + 1L, 0L, 0L, true))
        .toDF("event_id", "user_id", "cents", "del"),
      Seq("event_id"), Some("del"), numBuckets = 16)
    (1L to 2L).foreach { v =>
      val feed = VersionedTable.changes(spark, dir, v - 1, v)
        .select($"change", $"user_id", $"cents")
      VersionedTable.maintainTable(spark, viewDir, feed,
        Seq("user_id"), "n_events", Seq("cents"))
    }
    val maintained = VersionedTable.read(spark, viewDir)
      .select($"user_id", $"n_events", $"cents")
      .as[(Long, Long, Long)].collect().toSet
    val recomputed = VersionedTable.read(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("cents"))
      .as[(Long, Long, Long)].collect().toSet
    assert(maintained === recomputed)
    // tombstone law: user 5000 was inserted in v1 and fully emptied in
    // v2 — it must be GONE from the view table, not present with zero
    // support (the maintainTable delete path, not just the upsert path)
    assert(!maintained.exists(_._1 == 5000L),
      "a group whose multiplicity support hit zero must be tombstoned")
    assert(maintained.exists(_._1 == 9999L))
  }

  // ---- merge-on-read (delta layers) ----------------------------------

  test("mor: delta-layer merges read identically to a COW twin at every version") {
    val cow = freshDir("mor_twin_cow")
    val mor = freshDir("mor_twin_mor")
    val b0 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
    val b1 = Seq((2L, "B", false), (3L, "", true), (5L, "e", false))
      .toDF("k", "v", "del")
    val b2 = Seq((2L, "B2", false), (5L, "", true), (6L, "f", false))
      .toDF("k", "v", "del")
    for (d <- Seq(cow, mor)) {
      val m = d == mor
      VersionedTable.merge(spark, d, b0, Seq("k"), numBuckets = 4)
      VersionedTable.merge(spark, d, b1, Seq("k"), Some("del"),
        numBuckets = 4, mor = m)
      VersionedTable.merge(spark, d, b2, Seq("k"), Some("del"),
        numBuckets = 4, mor = m)
    }
    (0L to 2L).foreach { v =>
      assert(state(mor, Some(v)) === state(cow, Some(v)),
        s"MoR and COW disagree at version $v")
    }
    // newest layer wins per key (k=2 updated twice), tombstones drop
    assert(state(mor) === Set((1L, "a"), (2L, "B2"), (4L, "d"), (6L, "f")))
    // MoR moved no owners: version 2's owner map is version 0's, and
    // two delta layers are live
    val sn0 = VersionedTable.snapshot(spark, mor, Some(0L))
    val sn2 = VersionedTable.snapshot(spark, mor, Some(2L))
    assert(sn2.owners === sn0.owners)
    assert(sn2.deltaDirs.size === 2)
    // lookup resolves through the layers (bucket-pruned point read)
    val got = VersionedTable.lookup(spark, mor, Seq(2L, 3L, 6L).toDF("k"))
      .select($"k", $"v").as[(Long, String)].collect().toSet
    assert(got === Set((2L, "B2"), (6L, "f")))
  }

  test("mor: compact folds every delta layer; content identical, state cleared") {
    val dir = freshDir("mor_compact")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    VersionedTable.merge(spark, dir,
      Seq((2L, "B", false), (3L, "c", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 4, mor = true)
    val before = state(dir)
    val v = VersionedTable.compact(spark, dir)
    val sn = VersionedTable.snapshot(spark, dir, Some(v))
    assert(sn.deltaDirs.isEmpty && sn.deltas.isEmpty)
    assert(state(dir, Some(v)) === before)
    // the pinned pre-compact version still resolves its layers
    assert(state(dir, Some(v - 1)) === before)
  }

  test("mor: a later COW merge folds ONLY its buckets' layers; others stay live") {
    val dir = freshDir("mor_fold")
    // numBuckets=2 with long keys: find two keys in different buckets
    val ks = (1L to 40L)
    VersionedTable.merge(spark, dir,
      ks.map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    // delta layer touching BOTH buckets
    VersionedTable.merge(spark, dir,
      ks.take(10).map(k => (k, s"d$k")).toDF("k", "v"), Seq("k"),
      numBuckets = 2, mor = true)
    val sn1 = VersionedTable.snapshot(spark, dir)
    assert(sn1.deltas.keySet.size === 2, "fixture must hit both buckets")
    // COW merge touching only ONE bucket: pick keys from bucket 0's set
    val bucketOf: Long => Int = { k =>
      val df = Seq(k).toDF("k")
        .select(pmod(xxhash64($"k"), lit(2L)).cast("int").as("b"))
      df.collect()(0).getInt(0)
    }
    val b0keys = ks.filter(bucketOf(_) == 0)
    VersionedTable.merge(spark, dir,
      Seq((b0keys.head, "COW")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    val sn2 = VersionedTable.snapshot(spark, dir)
    assert(!sn2.deltas.contains(0), "bucket 0's layers must be folded")
    assert(sn2.deltas.contains(1), "bucket 1's layers must stay live")
    // content: COW row wins on its key, bucket-1 deltas still apply,
    // bucket-0 deltas were folded into the COW dir
    val expect = ks.map { k =>
      if (k == b0keys.head) (k, "COW")
      else if (k <= 10) (k, s"d$k")
      else (k, s"v$k")
    }.toSet
    assert(state(dir) === expect)
  }

  test("mor: vacuum keeps live delta dirs, sweeps folded ones after compaction") {
    val dir = freshDir("mor_vacuum")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    VersionedTable.merge(spark, dir,
      Seq((1L, "A")).toDF("k", "v"), Seq("k"), numBuckets = 2, mor = true)
    // retain only the MoR version: its delta dir AND its base dirs stay
    VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(state(dir) === Set((1L, "A"), (2L, "b")))
    // compact, then vacuum to the folded version: the delta dir goes
    VersionedTable.compact(spark, dir)
    val removed = VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(removed.nonEmpty)
    assert(state(dir) === Set((1L, "A"), (2L, "b")))
  }

  test("mor: materialized and derived change feeds agree across delta commits") {
    val dir = freshDir("mor_feed")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    VersionedTable.merge(spark, dir,
      Seq((1L, "A", false), (2L, "", true), (3L, "c", false))
        .toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 2, mor = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"change", $"k", $"v").as[(String, Long, String)]
        .collect().toSet
    val mat = rows(VersionedTable.changes(spark, dir, 0L, 1L))
    val der = rows(VersionedTable.changes(spark, dir, 0L, 1L,
      materialized = false))
    assert(mat === der)
    assert(mat === Set(("update_pre", 1L, "a"), ("update_post", 1L, "A"),
      ("delete", 2L, "b"), ("insert", 3L, "c")))
  }

  test("mor: deltaStats reports live layers, per-bucket depth, bytes; compaction zeroes it") {
    val dir = freshDir("mor_stats")
    VersionedTable.merge(spark, dir,
      (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    assert(VersionedTable.deltaStats(spark, dir) === ((0, 0, 0L)))
    VersionedTable.merge(spark, dir,
      (1L to 10L).map(k => (k, s"a$k")).toDF("k", "v"), Seq("k"),
      numBuckets = 2, mor = true)
    VersionedTable.merge(spark, dir,
      (1L to 10L).map(k => (k, s"b$k")).toDF("k", "v"), Seq("k"),
      numBuckets = 2, mor = true)
    val (layers, maxPer, bytes) = VersionedTable.deltaStats(spark, dir)
    assert(layers === 2 && maxPer === 2 && bytes > 0)
    VersionedTable.compact(spark, dir)
    assert(VersionedTable.deltaStats(spark, dir) === ((0, 0, 0L)))
    // the pinned pre-compact version still reports its layers
    assert(VersionedTable.deltaStats(spark, dir, Some(2L))._1 === 2)
  }

  test("mor: a schema-widening delta layer reads back widened, and compaction keeps it") {
    val dir = freshDir("mor_widen")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    // the delta batch ADDS a column; older base rows read null there
    VersionedTable.merge(spark, dir,
      Seq((2L, "B", 7L), (3L, "c", 9L)).toDF("k", "v", "n"),
      Seq("k"), numBuckets = 2, mor = true)
    def rows(asOf: Option[Long]) = VersionedTable.read(spark, dir, asOf)
      .select($"k", $"v", $"n").as[(Long, String, Option[Long])]
      .collect().toSet
    val want = Set((1L, "a", None), (2L, "B", Some(7L)), (3L, "c", Some(9L)))
    assert(rows(None) === want)
    VersionedTable.compact(spark, dir)
    assert(rows(None) === want)
  }

  test("mor: restore re-points delta state; history counts delta-layer changes") {
    val dir = freshDir("mor_restore")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    VersionedTable.merge(spark, dir,
      Seq((1L, "A")).toDF("k", "v"), Seq("k"), numBuckets = 2, mor = true)
    VersionedTable.compact(spark, dir) // v2: folded
    VersionedTable.restore(spark, dir, 1L) // v3: back to the MoR state
    assert(state(dir) === Set((1L, "A"), (2L, "b")))
    val sn3 = VersionedTable.snapshot(spark, dir)
    assert(sn3.deltaDirs.size === 1, "restore must carry the delta state back")
    // history: the MoR commit changed exactly the batch's bucket
    val hist = VersionedTable.history(spark, dir)
      .select($"version", $"buckets_changed", $"has_feed")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(hist(1)._2 === 1L, "MoR commit touches its batch's buckets only")
    assert(hist(1)._3 === true, "MoR commits carry a materialized feed")
  }

  test("merge rejects a batch carrying the reserved MoR internal columns") {
    val dir = freshDir("mor_reserved")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    Seq("_mor_del", "_mor_layer").foreach { c =>
      val e = intercept[IllegalArgumentException] {
        VersionedTable.merge(spark, dir,
          Seq((2L, "b", false)).toDF("k", "v", c), Seq("k"), numBuckets = 2)
      }
      assert(e.getMessage.contains(c) && e.getMessage.contains("reserved"),
        s"reserved column $c must be rejected loudly: ${e.getMessage}")
    }
  }

  test("mor: autoCompactLayers folds the table from inside merge at the threshold") {
    val dir = freshDir("mor_autocompact")
    VersionedTable.merge(spark, dir,
      (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    // below the threshold nothing folds: layers stack normally
    VersionedTable.merge(spark, dir,
      (1L to 10L).map(k => (k, s"a$k")).toDF("k", "v"), Seq("k"),
      numBuckets = 2, mor = true, autoCompactLayers = 3)
    VersionedTable.merge(spark, dir,
      (1L to 10L).map(k => (k, s"b$k")).toDF("k", "v"), Seq("k"),
      numBuckets = 2, mor = true, autoCompactLayers = 3)
    assert(VersionedTable.deltaStats(spark, dir)._2 === 2)
    // the threshold-reaching merge compacts INSIDE the call and returns
    // the compaction's version (one extra commit over the delta's)
    val v = VersionedTable.merge(spark, dir,
      (1L to 10L).map(k => (k, s"c$k")).toDF("k", "v"), Seq("k"),
      numBuckets = 2, mor = true, autoCompactLayers = 3)
    assert(v === 4L, s"delta commit 3 + compaction commit 4, got $v")
    assert(VersionedTable.deltaStats(spark, dir) === ((0, 0, 0L)))
    assert(state(dir) ===
      ((1L to 10L).map(k => (k, s"c$k")) ++ (11L to 20L).map(k => (k, s"v$k"))).toSet)
    // the default threshold constant encodes the measured 8-16 knee
    assert(VersionedTable.AutoCompactDefault === 8)
  }

  test("mor: deltaStats counts only LIVE-bucket payload, not folded buckets or _cdc") {
    val dir = freshDir("mor_stats_live")
    // two keys in two distinct buckets (numBuckets=16 hash space)
    val k1 = 1L
    val k2 = (2L to 200L).find(k => bucketOf(k) != bucketOf(k1)).get
    VersionedTable.merge(spark, dir,
      Seq((k1, "a"), (k2, "b")).toDF("k", "v"), Seq("k"), numBuckets = 16)
    VersionedTable.merge(spark, dir,
      Seq((k1, "A", false), (k2, "B", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 16, mor = true)
    val before = VersionedTable.deltaStats(spark, dir)._3
    assert(before > 0)
    // a COW merge of k1 folds ITS bucket out of the delta dir's
    // membership; the dir's bytes on disk are unchanged, but the
    // compaction-cadence signal must now count only k2's partition
    VersionedTable.merge(spark, dir,
      Seq((k1, "AA", false)).toDF("k", "v", "del"),
      Seq("k"), Some("del"), numBuckets = 16)
    val after = VersionedTable.deltaStats(spark, dir)
    assert(after._1 === 1 && after._2 === 1)
    assert(after._3 > 0 && after._3 < before,
      s"bytes must shrink to the live bucket's partition: $before -> ${after._3}")
  }

  test("mor: deltaStats is manifest-only — bytes survive the payload moving away") {
    val dir = freshDir("mor_stats_manifest")
    VersionedTable.merge(spark, dir,
      (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    VersionedTable.merge(spark, dir,
      (1L to 10L).map(k => (k, s"a$k")).toDF("k", "v"), Seq("k"),
      numBuckets = 2, mor = true)
    val sn = VersionedTable.snapshot(spark, dir)
    assert(sn.deltaBytes.nonEmpty,
      "a MoR commit must record its payload bytes in the manifest")
    val before = VersionedTable.deltaStats(spark, dir)
    assert(before._3 > 0)
    assert(before._3 === sn.deltaBytes.values.sum,
      "probe must equal the committed manifest bytes exactly")
    // move the delta payload aside: a probe that listed the filesystem
    // would now see 0 — the manifest-only probe must not notice
    val deltaDir = new java.io.File(dir, sn.deltaDirs.head)
    val aside = new java.io.File(dir, "_aside")
    assert(deltaDir.renameTo(aside), s"rename failed for $deltaDir")
    try assert(VersionedTable.deltaStats(spark, dir) === before,
      "deltaStats must read the manifest, not list the delta tree")
    finally assert(aside.renameTo(deltaDir))
    // fallback parity: a manifest written before deltaBytes existed
    // (simulated by stripping the field) falls back to listing — and
    // the listed number agrees with what the writer committed
    val manifest = new java.io.File(dir,
      f"_log/${sn.version}%08d.json")
    val json = new String(java.nio.file.Files.readAllBytes(manifest.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("deltaBytes")
    java.nio.file.Files.write(manifest.toPath, mapper.writeValueAsBytes(node))
    assert(VersionedTable.deltaStats(spark, dir) === before,
      "the pre-deltaBytes fallback must list the same payload")
  }

  test("partitionForWriters slices are bucket-disjoint, exact, and land thread-parallel") {
    val dir = freshDir("writer_slices")
    VersionedTable.merge(spark, dir,
      (1L to 8L).map(k => (k, s"seed$k")).toDF("k", "v"), Seq("k"), numBuckets = 16)
    val batch = (100L to 179L).map(k => (k, s"w$k")).toDF("k", "v")
    val slices = VersionedTable.partitionForWriters(batch, Seq("k"), 4, numBuckets = 16)
    assert(slices.size === 4)
    // exact partition: every row in exactly one slice
    val counts = slices.map(_.count())
    assert(counts.sum === 80)
    // bucket-disjoint: no table bucket appears in two slices
    val bucketsPerSlice = slices.map(
      _.select(pmod(xxhash64($"k"), lit(16L)).cast("int"))
        .distinct().as[Int].collect().toSet)
    bucketsPerSlice.combinations(2).foreach { case Seq(a, b) =>
      assert((a intersect b).isEmpty, s"slices share buckets: $a vs $b")
    }
    // the four-writer harness: one thread-parallel merge per slice —
    // disjointness means every lost manifest race rebases, all land
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = slices.filter(_.count() > 0).map { s =>
      Future { VersionedTable.merge(spark, dir, s, Seq("k"), numBuckets = 16) }
    }
    Await.result(Future.sequence(fs), 120.seconds)
    val got = state(dir)
    (100L to 179L).foreach(k => assert(got.contains((k, s"w$k")), s"lost $k"))
    assert(got.size === 88)
  }

  test("auto-compaction re-applies the declared clustered layout and survives its own races") {
    val dir = freshDir("autocompact_layout")
    VersionedTable.merge(spark, dir,
      (0L until 200L).map(k => (k, k.toInt, s"v$k")).toDF("k", "x", "v"),
      Seq("k"), numBuckets = 4)
    // declare the layout: clustered chunked compact records its spec
    VersionedTable.compact(spark, dir, clusterBy = Seq("x"), chunksPerBucket = 4)
    assert(VersionedTable.snapshot(spark, dir).layout === Some(VersionedTable.Layout(Seq("x"), 4)))
    val statsBefore = VersionedTable.snapshot(spark, dir).fileStats
    assert(statsBefore.nonEmpty)
    // MoR merges up to the threshold: the auto-compaction must re-apply
    // the DECLARED layout, not flatten the table
    (1 to 2).foreach { i =>
      VersionedTable.merge(spark, dir,
        (0L until 10L).map(k => (k, (1000 + i).toInt, s"a$i$k")).toDF("k", "x", "v"),
        Seq("k"), numBuckets = 4, mor = true, autoCompactLayers = 2)
    }
    val sn = VersionedTable.snapshot(spark, dir)
    assert(sn.deltaDirs.isEmpty, "threshold crossing must have compacted")
    assert(sn.layout === Some(VersionedTable.Layout(Seq("x"), 4)), "layout declaration must survive")
    assert(sn.fileStats.nonEmpty, "auto-compaction must re-collect stats")
    // the merge-carry rule: a plain merge keeps the declaration; an
    // EXPLICIT plain compact clears it; rebucket preserves it
    VersionedTable.merge(spark, dir,
      Seq((5L, 7, "m")).toDF("k", "x", "v"), Seq("k"), numBuckets = 4)
    assert(VersionedTable.snapshot(spark, dir).layout === Some(VersionedTable.Layout(Seq("x"), 4)))
    VersionedTable.rebucket(spark, dir, 8)
    assert(VersionedTable.snapshot(spark, dir).layout === Some(VersionedTable.Layout(Seq("x"), 4)),
      "rebucket keeps the declared clustering intent")
    VersionedTable.compact(spark, dir)
    assert(VersionedTable.snapshot(spark, dir).layout === None,
      "an explicit plain compact clears the declaration")
  }

  // ---- idempotent writer transactions (exactly-once foreachBatch) ----

  test("txn: a replayed batch is skipped — same version, same content, no spurious delta layer") {
    val dir = freshDir("txn_replay")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    val batch = Seq((2L, "B"), (3L, "c")).toDF("k", "v")
    val v1 = VersionedTable.merge(spark, dir, batch, Seq("k"),
      numBuckets = 4, mor = true, txn = Some(("ingest", 7L)))
    val layers1 = VersionedTable.deltaStats(spark, dir)._1
    // the replayed delivery: same appId, same txnVersion
    val v2 = VersionedTable.merge(spark, dir, batch, Seq("k"),
      numBuckets = 4, mor = true, txn = Some(("ingest", 7L)))
    assert(v2 === v1, "replay must return the committed version, not commit")
    assert(VersionedTable.deltaStats(spark, dir)._1 === layers1,
      "replay must not stack a delta layer")
    assert(VersionedTable.versions(spark, dir).max === v1)
    assert(state(dir) === Set((1L, "a"), (2L, "B"), (3L, "c")))
    // a LOWER txnVersion (out-of-order duplicate) also skips
    val v3 = VersionedTable.merge(spark, dir,
      Seq((9L, "stale")).toDF("k", "v"), Seq("k"),
      numBuckets = 4, txn = Some(("ingest", 6L)))
    assert(v3 === v1 && !state(dir).exists(_._1 == 9L))
  }

  test("txn: higher versions apply, appIds are independent, untagged merges never skip") {
    val dir = freshDir("txn_apps")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a")).toDF("k", "v"), Seq("k"), numBuckets = 4,
      txn = Some(("appA", 0L)))
    // appA advances
    val v1 = VersionedTable.merge(spark, dir,
      Seq((2L, "b")).toDF("k", "v"), Seq("k"), numBuckets = 4,
      txn = Some(("appA", 1L)))
    assert(v1 === 1L)
    // appB at the same numeric version is independent — applies
    val v2 = VersionedTable.merge(spark, dir,
      Seq((3L, "c")).toDF("k", "v"), Seq("k"), numBuckets = 4,
      txn = Some(("appB", 1L)))
    assert(v2 === 2L)
    // an untagged merge of already-present rows still commits (the
    // watermark is opt-in; plain merges keep their re-merge semantics)
    val v3 = VersionedTable.merge(spark, dir,
      Seq((3L, "c")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    assert(v3 === 3L)
    val sn = VersionedTable.snapshot(spark, dir)
    assert(sn.txns === Map("appA" -> 1L, "appB" -> 1L))
    // empty appId is a contract error, not a silent global watermark
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, dir, Seq((4L, "d")).toDF("k", "v"),
        Seq("k"), numBuckets = 4, txn = Some(("", 9L)))
    }
  }

  test("txn: watermarks survive compact, rebucket, and restore") {
    val dir = freshDir("txn_carry")
    VersionedTable.merge(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), numBuckets = 4,
      txn = Some(("ingest", 3L)))
    VersionedTable.compact(spark, dir)
    assert(VersionedTable.snapshot(spark, dir).txns === Map("ingest" -> 3L),
      "compact must carry the watermark")
    VersionedTable.rebucket(spark, dir, 8)
    assert(VersionedTable.snapshot(spark, dir).txns === Map("ingest" -> 3L),
      "rebucket must carry the watermark")
    // replay across the layout change still skips
    val head = VersionedTable.versions(spark, dir).max
    val v = VersionedTable.merge(spark, dir,
      Seq((9L, "late")).toDF("k", "v"), Seq("k"), numBuckets = 8,
      txn = Some(("ingest", 3L)))
    assert(v === head && !state(dir).exists(_._1 == 9L))
    // restore keeps the LEDGER while rolling back data (the Delta
    // caveat: a post-restore writer wanting re-application needs a
    // fresh appId)
    VersionedTable.merge(spark, dir,
      Seq((5L, "e")).toDF("k", "v"), Seq("k"), numBuckets = 8,
      txn = Some(("ingest", 4L)))
    VersionedTable.restore(spark, dir, head)
    assert(!state(dir).exists(_._1 == 5L), "restore rolls the data back")
    assert(VersionedTable.snapshot(spark, dir).txns === Map("ingest" -> 4L),
      "restore must NOT roll the watermark back")
  }

  test("txn: a same-appId commit race resolves to skip; a disjoint race merges both ledgers") {
    val dir = freshDir("txn_race")
    VersionedTable.merge(spark, dir,
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    // ZOMBIE WRITER: the competing execution of the SAME (appId, txn)
    // commits first, via the pre-commit seam; ours must detect the
    // watermark on the winner and SKIP (same rows, no double-apply)
    VersionedTable.beforeCommitHook = () =>
      VersionedTable.merge(spark, dir,
        Seq((1L, "X")).toDF("k", "v"), Seq("k"), numBuckets = 4,
        txn = Some(("zombie", 5L)))
    val v = VersionedTable.merge(spark, dir,
      Seq((1L, "X")).toDF("k", "v"), Seq("k"), numBuckets = 4,
      txn = Some(("zombie", 5L)))
    assert(v === VersionedTable.versions(spark, dir).max,
      "the raced replay must resolve to the winner's version")
    assert(state(dir).count(_._1 == 1L) === 1)
    // DISJOINT race: a different appId wins on other buckets; ours
    // rebases and the committed manifest carries BOTH watermarks
    val k1 = 1L
    val k2 = (2L to 200L).find(k =>
      bucketOf(k, 4) != bucketOf(k1, 4)).get
    VersionedTable.beforeCommitHook = () =>
      VersionedTable.merge(spark, dir,
        Seq((k1, "w1")).toDF("k", "v"), Seq("k"), numBuckets = 4,
        txn = Some(("writerA", 1L)))
    VersionedTable.merge(spark, dir,
      Seq((k2, "w2")).toDF("k", "v"), Seq("k"), numBuckets = 4,
      txn = Some(("writerB", 1L)))
    val txns = VersionedTable.snapshot(spark, dir).txns
    assert(txns.get("writerA").contains(1L) && txns.get("writerB").contains(1L),
      s"rebase must merge both ledgers, got $txns")
  }
  test("SerializableHadoopConf survives Java AND Kryo serialization") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set("graft.test.key", "value-42")
    val wrapped = new graft.util.SerializableHadoopConf(conf)
    // Java serialization (the default closure/broadcast path)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(wrapped); oos.close()
    val viaJava = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[graft.util.SerializableHadoopConf]
    assert(viaJava.value.get("graft.test.key") === "value-42")
    // Kryo (spark.serializer=KryoSerializer deployments): bypasses
    // writeObject/readObject hooks entirely — a hook-based wrapper
    // arrives with a null Configuration and the distributed
    // footer-stats job NPEs; the snapshot-based wrapper must not
    val kser = new org.apache.spark.serializer.KryoSerializer(
      new org.apache.spark.SparkConf(false)).newInstance()
    val viaKryo = kser.deserialize[graft.util.SerializableHadoopConf](
      kser.serialize(wrapped))
    assert(viaKryo.value.get("graft.test.key") === "value-42")
  }

  test("head hint: latest-version reads skip the log listing; stale/garbled/missing hints degrade to it, never to a wrong version") {
    val dir = freshDir("headhint")
    (0 until 5).foreach(i => VersionedTable.merge(spark, dir,
      Seq((i.toLong, s"v$i")).toDF("k", "v"), Seq("k"), numBuckets = 4))
    val head = java.nio.file.Paths.get(dir, "_log", "_head")
    // tampering below bypasses Hadoop's ChecksumFileSystem — drop the
    // crc sidecar so the written VALUE is what readers actually see
    def tamper(value: String): Unit = {
      java.nio.file.Files.write(head, value.getBytes("UTF-8"))
      java.nio.file.Files.deleteIfExists(
        head.resolveSibling("._head.crc"))
    }
    assert(java.nio.file.Files.exists(head),
      "every commit must refresh the head hint")
    assert(new String(java.nio.file.Files.readAllBytes(head),
      "UTF-8").trim === "4")
    assert(VersionedTable.latestVersion(spark, dir) === Some(4L))
    assert(VersionedTable.snapshot(spark, dir).version === 4L)
    // STALE hint (a writer whose hint write was lost): the forward
    // probe recovers the true head — a reader must NEVER see an old
    // version as latest because a marker lagged
    tamper("1")
    assert(VersionedTable.latestVersion(spark, dir) === Some(4L))
    assert(VersionedTable.snapshot(spark, dir).version === 4L)
    // hint pointing PAST the real head (manifest hand-deleted to roll
    // back a crashed commit): existence check fails -> listing fallback
    tamper("9")
    assert(VersionedTable.latestVersion(spark, dir) === Some(4L))
    // GARBLED hint: fallback, and the next commit restores it
    tamper("not a number")
    assert(VersionedTable.latestVersion(spark, dir) === Some(4L))
    // MISSING hint (a pre-hint table): fallback
    java.nio.file.Files.delete(head)
    java.nio.file.Files.deleteIfExists(head.resolveSibling("._head.crc"))
    assert(VersionedTable.latestVersion(spark, dir) === Some(4L))
    assert(VersionedTable.snapshot(spark, dir).version === 4L)
    VersionedTable.merge(spark, dir,
      Seq((99L, "z")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    assert(new String(java.nio.file.Files.readAllBytes(head),
      "UTF-8").trim === "5", "a commit must re-create a lost hint")
    // time travel resolves PINNED versions with no listing and still
    // errors loudly on a vacuumed one
    assert(VersionedTable.snapshot(spark, dir, Some(2L)).version === 2L)
    VersionedTable.vacuum(spark, dir, retainLast = 2)
    assert(VersionedTable.latestVersion(spark, dir) === Some(5L))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.snapshot(spark, dir, Some(1L))
    }
    assert(e.getMessage.contains("does not exist"))
  }

  test("head hint: publish sweep stays correct on the watermark+hint fast path") {
    val dir = freshDir("headhint_sweep")
    // 3 CDC merges; each merge's trailing sweep publishes its own feed
    (0 until 3).foreach(i => VersionedTable.merge(spark, dir,
      Seq((i.toLong, s"v$i")).toDF("k", "v"), Seq("k"), numBuckets = 4))
    def publishedDirs: Seq[Long] = {
      val f = new java.io.File(dir, "_feed")
      if (!f.exists()) Seq.empty
      else f.list().toSeq.filter(_.startsWith("commit_version="))
        .map(_.stripPrefix("commit_version=").toLong).sorted
    }
    val feeds0 = publishedDirs
    assert(feeds0 === Seq(1L, 2L), s"v0 never publishes; got $feeds0")
    // simulate a crashed publisher: a committed version with its feed
    // dir missing BELOW the watermark is only healed by rescan (the
    // documented repair), while versions ABOVE the watermark publish
    // through the range fast path
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_feed/commit_version=2"), true)
    assert(VersionedTable.publishFeeds(spark, dir) === Seq.empty,
      "fast path must not re-examine below the watermark")
    assert(VersionedTable.publishFeeds(spark, dir, rescan = true) === Seq(2L),
      "rescan must heal the deleted publication")
    // new commits above the watermark land through the range path
    VersionedTable.merge(spark, dir,
      Seq((7L, "x")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    assert(publishedDirs === Seq(1L, 2L, 3L))
  }
}
