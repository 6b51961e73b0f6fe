package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** A minimal versioned copy-on-write table on parquet: `mergeParquet`'s
  * key-scoped MERGE (Sources.scala) generalized from "one durable
  * state" to an append-only MANIFEST LOG with snapshot (time-travel)
  * reads and vacuum — the durability contract the reference's
  * update-then-insert load (mainTesting.py:130-149, 693-761) implies,
  * completed with the audit/rollback half that a real warehouse needs.
  *
  * Layout:
  * {{{
  *   table/
  *     _log/00000000.json     one manifest per committed version
  *     d00000000_ab12cd34/    immutable commit dir, kb=<bucket>/part-*
  *     d00000001_9f00e1c2/
  *       _cdc/                that commit's materialized row diff
  *     _feed/commit_version=1/  published copy of _cdc (streaming)
  * }}}
  *
  * Every data directory is written exactly once and never modified; a
  * manifest maps each key-hash bucket (`kb = pmod(xxhash64(keys), B)`,
  * the same bucketing as `mergeParquet`) to the ONE commit dir that
  * owns its current rows. A merge therefore:
  *   1. reads only the affected buckets (manifest-driven file pruning
  *      plus kb partition pruning inside each commit dir),
  *   2. writes survivors ∪ upserts for those buckets to a NEW dir,
  *   3. commits a manifest whose owner map points the affected buckets
  *      at the new dir and every other bucket wherever it already was.
  * A merge of a 1k-row batch into a 100 TB table moves ~min(1k, B)
  * buckets of data and one tiny JSON — never the table — and readers
  * of any existing version are untouched (their files are immutable).
  *
  * Commit atomicity is create-with-overwrite=false on the manifest
  * path — the same put-if-absent primitive Delta's log relies on —
  * with OPTIMISTIC CONCURRENCY on top: a merge that loses the manifest
  * race re-reads the winner's snapshot and, when the winner touched
  * only OTHER buckets (and changed neither schema nor layout), rebases
  * its already-staged commit onto the new version and retries — the
  * staged files, the feed, and the survivors logic are all still exact
  * because disjoint buckets imply disjoint keys. Overlapping buckets,
  * an interleaved schema change, compact/rebucket, or a creation race
  * fail loudly (a true conflict; the loser's orphan data dir is swept
  * by the next vacuum). Readers resolve a version by reading one small
  * JSON; a reader pinned to version v keeps working through any number
  * of later merges, and through vacuum as long as v is retained.
  *
  * MERGE-ON-READ (`merge(..., mor = true)`): the write-side answer for
  * SCATTERED small updates, where COW's bucket rewrite is ruinous —
  * measured at sf1 (study_r10.json `cow_write_amplification_sf1`): a
  * 0.1%-key batch (152 rows, 3 KB) scattered over 55/64 buckets makes
  * COW rewrite 515x the logical change (~the whole table), while the
  * MoR commit writes 23x (the one-file-per-touched-bucket parquet
  * floor — a few hundred bytes of footer per bucket, CONSTANT in table
  * size where COW's cost is PROPORTIONAL to it). The read-side price
  * until compaction, same study: 0.51 s resolved vs 0.10 s folded on
  * the sf1 rollup. A MoR commit
  * writes ONLY the batch (upserts + `_mor_del` tombstones) as a delta
  * layer and appends it to the affected buckets' manifest state;
  * owners never move. Every read path goes through `resolved()`
  * (newest layer wins per key, tombstones drop, untouched keys stream
  * from the base scan), a later COW merge of a bucket folds its layers
  * in, and `compact` folds everything — the Delta deletion-vector /
  * Iceberg merge-on-read trade, expressed at bucket granularity.
  * Operating rule: MoR for high-frequency scattered batches, compact
  * on a cadence that bounds live layers, COW (default) otherwise.
  *
  * Deliberately NOT here (use Delta/Iceberg when these matter):
  * cross-table transactions, manifest-level column stats (pointless
  * under hash bucketing — non-key min/max spans every bucket; x12's
  * z-order study is the clustering answer, and row-group min/max
  * pushdown comes free through VersionedScan's parquet reader),
  * schema enforcement beyond union-by-name widening.
  * The semantics a user of this engine needs — snapshot isolation,
  * time travel, key-scoped merge cost, vacuum — are all present and
  * spec'd (VersionedTableSpec), and v20 puts the whole lifecycle
  * under the DuckDB oracle gate.
  */
object VersionedTable {
  /** Bucket column name — an internal layout column, never part of the
    * user schema (reads drop it; updates must not carry it). */
  val KB = "kb"

  /** A row's key-hash bucket, `pmod(xxhash64(keys), numBuckets)` as an
    * int: the one bucket expression of the table layout, shared by
    * merge, lookup, compaction, [[partitionForWriters]] and
    * `Sources.mergeParquet`. `VersionedScan.candidateBuckets` evaluates
    * the same hash on literals, driver-side. */
  def bucketOf(keyCols: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(numBuckets.toLong)).cast("int")
  private val LOG = "_log"
  private val FEED = "_feed"
  /** Delta-layer internals (merge-on-read): `_mor_del` marks a
    * tombstone row inside a delta file; `_mor_layer` is the resolution
    * order during a read. Neither ever appears in a user schema. */
  private val DEL = "_mor_del"
  private val LAYER = "_mor_layer"

  /** A true commit conflict: the winner touched our buckets, changed
    * the schema/layout, or won a creation race — the staged batch is
    * stale and must be RECOMPUTED against the new state (an exact
    * rebase was impossible). Subtype of IllegalStateException so
    * callers that match on the general contract keep working; `merge`
    * itself catches this for its bounded recompute-and-retry loop. */
  final class ConcurrentCommitException(msg: String)
    extends IllegalStateException(msg)

  /** `cdc`, when present, is (relative dir, feed schema) of this
    * version's MATERIALIZED change feed — the Θ(batch) row diff its
    * commit wrote next to the data (see `merge`). Absent on manifests
    * written before feeds existed and on `restore` commits, whose diff
    * is only available derived.
    *
    * MERGE-ON-READ state: `deltaDirs` lists every live DELTA commit
    * dir in COMMIT ORDER (the resolution order — newest layer wins per
    * key), and `deltas` maps each bucket to the subset of those dirs
    * whose rows still apply to it (a later COW rewrite of a bucket
    * folds its delta rows in and removes the bucket from the dirs'
    * membership; the dir itself stays live for its other buckets).
    * Both empty on pre-MoR manifests and after any compact/rebucket.
    *
    * `txns` is the idempotent-writer watermark map (Delta's
    * setTransaction analog): appId → highest transaction version a
    * `merge(txn = ...)` has committed. Carried forward verbatim by
    * every commit (merge, compact, rebucket, restore), so a replayed
    * micro-batch is recognized at ANY later table state.
    *
    * `fileStats` is the DATA-SKIPPING index (Delta's per-file stats
    * analog): relative file path → column → (min, max), both encoded
    * as strings of the column's INTERNAL value (days for dates, micros
    * for timestamps). Collected from parquet footers at
    * `compact(clusterBy, chunksPerBucket)` time — the only write that
    * produces range-disjoint files worth skipping — and consulted by
    * [[VersionedScan]]'s FileIndex to drop whole files on range
    * predicates before any task launches. A later merge DROPS the
    * rewritten buckets' entries (conservative: un-stat'd files are
    * never pruned), restore carries the target's.
    *
    * `layout` is the table's DECLARED clustering spec — recorded by a
    * clustered compact and carried by merges/rebucket so
    * AUTO-compaction re-applies the same layout instead of silently
    * flattening it; an explicit plain `compact()` clears the
    * declaration. `zorder` sorts by the Morton interleave of the
    * cluster columns (2-8 of them) instead of lexicographically, so
    * chunk files tile EVERY dimension and a predicate on any cluster
    * column prunes. */
  final case class Layout(cols: Seq[String], chunks: Int,
      zorder: Boolean = false)
  /** See [[Layout]]. */
  final case class Snapshot(version: Long, numBuckets: Int,
      keyCols: Seq[String], schema: StructType, owners: Map[Int, String],
      cdc: Option[(String, StructType)] = None,
      deltaDirs: Seq[String] = Nil,
      deltas: Map[Int, Seq[String]] = Map.empty,
      txns: Map[String, Long] = Map.empty,
      fileStats: Map[String, Map[String, (String, String)]] = Map.empty,
      layout: Option[Layout] = None,
      deltaBytes: Map[String, Long] = Map.empty)

  private def fsOf(spark: SparkSession, path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestPath(root: HPath, v: Long): HPath =
    new HPath(new HPath(root, LOG), f"$v%08d.json")

  /** The HEAD HINT (`_log/_head`, Delta's `_last_checkpoint` analog):
    * a tiny best-effort marker holding the newest version its writer
    * committed, refreshed after every successful manifest publish.
    * With it, resolving the LATEST version costs one small read plus a
    * couple of existence probes instead of an O(commits) `_log`
    * listing — the term that otherwise grows with history depth on
    * every `snapshot()`/`merge`/streaming-sink batch (139 ms/listing
    * measured at 10,240 commits, study_r14.json `manifest_scale`).
    * Correctness never depends on it: the hint is monotonic and
    * always ≤ the true head (it is written AFTER the commit), readers
    * probe FORWARD past it for commits whose hint write was lost, and
    * a missing/garbled/vacuum-stale hint falls back to the listing. */
  private val HEAD = "_head"

  private def headPath(root: HPath): HPath =
    new HPath(new HPath(root, LOG), HEAD)

  /** The hint's value, or None when absent/unreadable. A genuine FS
    * failure (outage, permissions) propagates — "absent" must mean
    * absent, not "storage is down" (same contract as the provider's
    * exists-probe, GraftProviderSpec's FailingFs gate). */
  private def readHeadHint(fs: FileSystem, root: HPath): Option[Long] =
    try {
      val in = fs.open(headPath(root))
      val s =
        try { val o = new java.io.ByteArrayOutputStream(); in.transferTo(o); o.toString("UTF-8") }
        finally in.close()
      s.trim.toLongOption
    } catch {
      case _: java.io.FileNotFoundException => None
      // a corrupt hint (torn write survived a crash, stale checksum
      // sidecar) is WORTHLESS, not fatal — degrade to the listing
      case _: org.apache.hadoop.fs.ChecksumException => None
    }

  /** Advance the hint to `v` (best-effort, monotonic, never throws):
    * temp + overwrite-rename, so readers see the old value or the new
    * one, never a torn write. A racing older writer that lands last
    * only leaves the hint a little behind — the forward probe in
    * [[latestVersion]] absorbs any lag. The temp name starts with
    * `.tmp_` so vacuum's orphan sweep ages out a crashed writer's
    * leftover. */
  private def writeHeadHint(fs: FileSystem, root: HPath, v: Long): Unit =
    try {
      if (readHeadHint(fs, root).exists(_ >= v)) return
      val tmp = new HPath(new HPath(root, LOG),
        s".tmp_head_${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      fs.delete(headPath(root), false) // local rename refuses existing dst
      if (!fs.rename(tmp, headPath(root))) fs.delete(tmp, false)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** How far past the hint [[latestVersion]] probes one-manifest-at-a-
    * time before giving up on the hint and paying the full listing —
    * bounds the worst case when a hint is very stale (e.g. a log
    * populated outside the commit path). */
  private val headProbeMax = 256

  /** Committed versions, ascending (vacuumed versions are absent). */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val (fs, root) = fsOf(spark, path)
    val log = new HPath(root, LOG)
    if (!fs.exists(log)) Seq.empty
    else fs.listStatus(log).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong).sorted
  }

  /** The newest committed version, without an O(commits) `_log`
    * listing when the head hint is fresh: read the hint, verify its
    * manifest exists, then probe forward for any commit whose hint
    * write was lost (normally zero or one step). None = no table.
    * Every latest-version consumer (`snapshot(asOf = None)`, `merge`'s
    * base load, the streaming sink's per-batch probe) resolves through
    * here, so a deep history costs readers what a shallow one does. */
  def latestVersion(spark: SparkSession, path: String): Option[Long] = {
    val (fs, root) = fsOf(spark, path)
    readHeadHint(fs, root) match {
      case Some(h) if fs.exists(manifestPath(root, h)) =>
        var v = h
        var steps = 0
        while (steps < headProbeMax && fs.exists(manifestPath(root, v + 1))) {
          v += 1; steps += 1
        }
        if (steps < headProbeMax) Some(v)
        else versions(spark, path).lastOption // hint absurdly stale
      case _ => versions(spark, path).lastOption
    }
  }

  def snapshot(spark: SparkSession, path: String,
      asOf: Option[Long] = None): Snapshot = {
    val (fs, root) = fsOf(spark, path)
    val resolved: Option[Long] = asOf match {
      // pinned version: one existence probe resolves it — no listing
      // at any history depth; the miss path pays the listing only to
      // name the surviving versions in the error
      case Some(v) => Some(v).filter(x => fs.exists(manifestPath(root, x)))
      case None => latestVersion(spark, path)
    }
    resolved match {
      case Some(v) => loadSnapshot(fs, root, path, v)
      case None =>
        val vs = versions(spark, path)
        require(vs.nonEmpty, s"no versioned table at $path (no $LOG/ manifests)")
        val v = asOf.getOrElse(vs.max)
        require(vs.contains(v),
          s"version $v of $path does not exist (available: " +
            s"${vs.mkString(", ")} — a vacuumed version is gone for good)")
        loadSnapshot(fs, root, path, v)
    }
  }

  /** Parse one already-known-to-exist manifest — no `_log` listing.
    * `snapshot` (one listing, validated) is the public surface; loops
    * that already HOLD the version list (publishFeeds' rescan,
    * history) call this so an n-version walk costs n manifest reads,
    * not n listings of n files — the difference measured 1,472 s vs
    * 1.5 s for a 10⁴-commit rescan (BASELINE.md r14; committed
    * study_r14.json `manifest_scale` holds the post-split curve). */
  private def loadSnapshot(fs: FileSystem, root: HPath, path: String,
      v: Long): Snapshot = {
    val in = fs.open(manifestPath(root, v))
    val bytes =
      try { val o = new java.io.ByteArrayOutputStream(); in.transferTo(o); o.toByteArray }
      finally in.close()
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
    require(m != null && m.has("owners"),
      s"manifest for version $v of $path is unreadable — a crashed commit; " +
        "delete the manifest file to roll back to the previous version")
    val owners = {
      val it = m.get("owners").fields()
      val b = Map.newBuilder[Int, String]
      while (it.hasNext) { val e = it.next(); b += (e.getKey.toInt -> e.getValue.asText()) }
      b.result()
    }
    val keys = {
      val a = m.get("keyCols")
      (0 until a.size()).map(a.get(_).asText())
    }
    val cdc =
      if (m.has("cdcDir"))
        Some((m.get("cdcDir").asText(),
          DataType.fromJson(m.get("cdcSchema").asText()).asInstanceOf[StructType]))
      else None
    val deltaDirs =
      if (!m.has("deltaDirs")) Seq.empty[String]
      else { val a = m.get("deltaDirs"); (0 until a.size()).map(a.get(_).asText()) }
    val deltas =
      if (!m.has("deltas")) Map.empty[Int, Seq[String]]
      else {
        val it = m.get("deltas").fields()
        val b = Map.newBuilder[Int, Seq[String]]
        while (it.hasNext) {
          val e = it.next()
          b += (e.getKey.toInt ->
            (0 until e.getValue.size()).map(e.getValue.get(_).asText()))
        }
        b.result()
      }
    val txns =
      if (!m.has("txns")) Map.empty[String, Long]
      else {
        val it = m.get("txns").fields()
        val b = Map.newBuilder[String, Long]
        while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue.asLong()) }
        b.result()
      }
    val layout =
      if (!m.has("layoutCols")) None
      else {
        val a = m.get("layoutCols")
        Some(Layout((0 until a.size()).map(a.get(_).asText()),
          m.get("layoutChunks").asInt(),
          m.has("layoutZ") && m.get("layoutZ").asBoolean()))
      }
    val fileStats =
      if (!m.has("fileStats")) Map.empty[String, Map[String, (String, String)]]
      else {
        val fit = m.get("fileStats").fields()
        val fb = Map.newBuilder[String, Map[String, (String, String)]]
        while (fit.hasNext) {
          val fe = fit.next()
          val cit = fe.getValue.fields()
          val cb = Map.newBuilder[String, (String, String)]
          while (cit.hasNext) {
            val ce = cit.next()
            cb += (ce.getKey ->
              (ce.getValue.get(0).asText(), ce.getValue.get(1).asText()))
          }
          fb += (fe.getKey -> cb.result())
        }
        fb.result()
      }
    val deltaBytes =
      if (!m.has("deltaBytes")) Map.empty[String, Long]
      else {
        val it = m.get("deltaBytes").fields()
        val b = Map.newBuilder[String, Long]
        while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue.asLong()) }
        b.result()
      }
    Snapshot(m.get("version").asLong(), m.get("numBuckets").asInt(), keys,
      DataType.fromJson(m.get("schema").asText()).asInstanceOf[StructType],
      owners, cdc, deltaDirs, deltas, txns, fileStats, layout, deltaBytes)
  }

  /** Read the table as of `asOf` (latest when None). ONE Catalyst file
    * scan over every live commit dir's files via [[VersionedScan]]'s
    * custom FileIndex — so a key predicate on the result prunes to the
    * key's bucket (one file) inside the plan, and mixed-generation
    * files read under the snapshot's widened schema. */
  def read(spark: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame =
    resolved(spark, path, snapshot(spark, path, asOf), None)

  /** The ONE resolution point every consumer reads through: the base
    * scan (custom FileIndex over the owner dirs) with the snapshot's
    * live DELTA LAYERS applied on top — per key, the newest delta row
    * wins (commit order = `deltaDirs` order), tombstones drop, and
    * keys no delta touches stream straight from the base scan via an
    * anti-join against the (merge-batch-sized) delta key set. With no
    * live deltas this IS the plain base scan — the COW fast path costs
    * nothing. Scale: delta volume between compactions is the sum of
    * un-folded merge batches; the anti-join's build side is exactly
    * that key set (AQE broadcasts it while it is small), and `compact`
    * folds layers back to zero — the operating rule is the same as
    * Delta/Iceberg MoR: compact on a cadence matched to ingest. */
  private[graft] def resolved(spark: SparkSession, path: String,
      sn: Snapshot, buckets: Option[Set[Int]]): DataFrame = {
    val base = VersionedScan.relation(spark, path, sn, buckets)
    val layers = sn.deltaDirs.zipWithIndex.flatMap { case (dir, layer) =>
      val live = sn.deltas.collect {
        case (b, ds) if ds.contains(dir) && buckets.forall(_.contains(b)) => b
      }.toSeq
      if (live.isEmpty) None
      else Some(spark.read.parquet(s"$path/$dir")
        .filter(col(KB).isin(live.map(Int.box): _*))
        .drop(KB)
        .withColumn(LAYER, lit(layer.toLong)))
    }
    if (layers.isEmpty) return base
    val keys = sn.keyCols
    val dataCols = sn.schema.fields.toSeq
      .filterNot(f => keys.contains(f.name))
      .map(f => (f.name, f.dataType))
    def align(df: DataFrame): DataFrame =
      df.select(keys.map(col) ++ aligned(df, dataCols) ++
        Seq(coalesce(col(DEL), lit(false)).as(DEL), col(LAYER)): _*)
    val allD = layers.map(align).reduce(_ unionByName _)
    val payload = struct(dataCols.map { case (n, _) => col(n) } :+ col(DEL): _*)
    val latest = allD.groupBy(keys.map(col): _*)
      .agg(max_by(payload, col(LAYER)).as("_r"))
    val upserted = latest.filter(!col(s"_r.$DEL"))
      .select(keys.map(col) ++
        dataCols.map { case (n, _) => col(s"_r.$n").as(n) }: _*)
    val deltaKeys = latest.select(keys.map(col): _*)
    base.join(deltaKeys, keys, "left_anti")
      .unionByName(upserted)
      .select(sn.schema.fieldNames.toSeq.map(col): _*)
  }

  private def listBuckets(fs: FileSystem, dir: HPath): Seq[Int] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(s"$KB=")).map(_.stripPrefix(s"$KB=").toInt)

  private def writeManifest(fs: FileSystem, root: HPath, v: Long,
      numBuckets: Int, keyCols: Seq[String], schema: StructType,
      owners: Map[Int, String],
      cdc: Option[(String, StructType)] = None,
      deltaDirs: Seq[String] = Nil,
      deltas: Map[Int, Seq[String]] = Map.empty,
      txns: Map[String, Long] = Map.empty,
      fileStats: Map[String, Map[String, (String, String)]] = Map.empty,
      layout: Option[Layout] = None,
      deltaBytes: Map[String, Long] = Map.empty): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("version", v)
    node.put("numBuckets", numBuckets)
    val ka = node.putArray("keyCols")
    keyCols.foreach(ka.add)
    node.put("schema", schema.json)
    cdc.foreach { case (d, s) =>
      node.put("cdcDir", d); node.put("cdcSchema", s.json)
    }
    val on = node.putObject("owners")
    owners.toSeq.sortBy(_._1).foreach { case (b, d) => on.put(b.toString, d) }
    if (deltaDirs.nonEmpty) {
      val da = node.putArray("deltaDirs")
      deltaDirs.foreach(da.add)
      val dn = node.putObject("deltas")
      deltas.toSeq.sortBy(_._1).foreach { case (b, ds) =>
        val arr = dn.putArray(b.toString)
        ds.foreach(arr.add)
      }
    }
    if (txns.nonEmpty) {
      val tn = node.putObject("txns")
      txns.toSeq.sortBy(_._1).foreach { case (a, tv) => tn.put(a, tv) }
    }
    layout.foreach { l =>
      val la = node.putArray("layoutCols")
      l.cols.foreach(la.add)
      node.put("layoutChunks", l.chunks)
      if (l.zorder) node.put("layoutZ", true)
    }
    if (fileStats.nonEmpty) {
      val fn = node.putObject("fileStats")
      fileStats.toSeq.sortBy(_._1).foreach { case (f, cols) =>
        val cn = fn.putObject(f)
        cols.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
          val arr = cn.putArray(c); arr.add(mn); arr.add(mx)
        }
      }
    }
    if (deltaBytes.nonEmpty) {
      val dbn = node.putObject("deltaBytes")
      deltaBytes.toSeq.sortBy(_._1).foreach { case (p, n) => dbn.put(p, n) }
    }
    fs.mkdirs(new HPath(root, LOG))
    // put-if-absent IS the commit: a concurrent writer (or a re-run of
    // a crashed one) must fail here, before any reader can see v. The
    // primitive is the [[CommitStore]] seam, resolved by filesystem
    // scheme: local hard-link, HDFS-class atomic rename, or a
    // deployment-registered conditional-put — and a LOUD refusal on
    // filesystems with no atomic primitive (S3-class), instead of a
    // silent race to lost commits.
    CommitStore.forScheme(fs.getScheme).putIfAbsent(
      fs, new HPath(root, LOG), manifestPath(root, v),
      mapper.writeValueAsBytes(node))
    // the commit is durable; advance the head hint so the NEXT reader
    // resolves this version without a log listing (best-effort — a
    // lost hint write costs one forward probe, never correctness)
    writeHeadHint(fs, root, v)
  }

  /** Key-scoped MERGE committing a NEW version; returns it. Matched
    * keys are replaced, unmatched update rows insert, tombstoned keys
    * (`deleteCol` true) are removed; all other rows' files are not
    * even read. Contracts (all checked loudly, same as `mergeParquet`):
    * update keys unique and non-null within the batch; no `kb` column
    * in the updates; `numBuckets`/`keyCols` fixed at table creation;
    * single writer.
    *
    * Execution shape (each item measured at the sf1 gate): the caller's
    * `updates` plan is PERSISTED for the duration of the merge — it
    * feeds the contract check, the survivors anti-join, and the write,
    * and an uncached plan re-runs its whole upstream (often an
    * aggregate of a fact table) once per consumer. The contract check
    * and the affected-bucket collect are ONE aggregation job (the
    * offending-key lookup runs only on the failure path). The commit
    * write repartitions by bucket first, so each bucket is exactly one
    * file regardless of upstream task layout — without it a B-bucket
    * commit from T tasks writes up to B×T files, and every later
    * bucket-pruned read pays the file-count. A pathologically hot
    * bucket serializing through one write task is the signal to raise
    * numBuckets (the same knob that scopes merge cost).
    *
    * PARALLEL WRITERS — the measured operating rule (study_r10.json
    * `occ_throughput_sf01`, 4 threads x 5 merges on the sf0.1 rollup):
    * bucket-DISJOINT writers commit at 1.40/s — every lost manifest
    * race rebases in O(1) (19 rebases, 0 recomputes) — while
    * bucket-OVERLAPPING writers fall to 0.51/s because each true
    * conflict re-runs the whole merge body (37 recomputes for 20
    * commits). So: pre-partition concurrent writers by bucket
    * (`pmod(xxhash64(keys), B)` is public arithmetic a router can
    * compute), and treat sustained recompute-retry log lines as the
    * signal that writers are colliding.
    *
    * IDEMPOTENT WRITES — `txn = Some((appId, txnVersion))` is Delta's
    * `txnAppId`/`txnVersion` contract, the exactly-once half of a
    * Structured Streaming `foreachBatch` sink: pass the query's stable
    * id as appId and the micro-batch id as txnVersion, and a REPLAYED
    * batch (checkpoint recovery re-delivers the last uncommitted-at-
    * the-source batch, which may already be committed at the SINK) is
    * recognized and skipped — the table's manifest carries an
    * appId → high-watermark map, and a merge whose txnVersion is ≤ the
    * watermark returns the current version without reading, writing,
    * or stacking a spurious MoR delta layer. Watermarks survive
    * compact/rebucket/restore (carried forward on every commit;
    * RESTORE deliberately does NOT roll them back — same caveat as
    * Delta, a post-restore writer wanting re-application uses a fresh
    * appId). Distinct appIds are independent; an empty batch commits
    * nothing and records nothing (a replay of an empty batch is empty
    * again, so the watermark is not needed for correctness). */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], deleteCol: Option[String] = None,
      numBuckets: Int = 64, maxConflictRetries: Int = 3,
      mor: Boolean = false, autoCompactLayers: Int = 0,
      txn: Option[(String, Long)] = None): Long = {
    // Bounded recompute-and-retry on TRUE conflicts (the Delta pattern):
    // a loser whose rebase was impossible re-reads the fresh snapshot
    // and re-runs the whole merge body — survivors, feed, staged files
    // are all recomputed, so the retry is exactly a serial re-run. The
    // batch semantics make this safe to replay: `updates` is a
    // key-unique upsert/delete set, so applying it after ANY interleaved
    // commits yields the same final rows for its keys. Retries are
    // bounded; the pathological storm still fails loudly. Pass 0 to keep
    // the strict fail-on-conflict contract (the conflict spec does).
    //
    // `autoCompactLayers` (MoR only; 0 = off) is the TABLE-SIDE
    // compaction policy: after a successful delta commit, if any
    // bucket's live layer stack has reached the threshold, fold the
    // table in the same call — every writer inherits the measured
    // layer-count rule (resolved-read cost grows with LAYER COUNT, not
    // delta bytes; study mor_layers: 0.56 s at 1 layer → 1.81 s at 16
    // vs 0.09 s folded) instead of re-implementing deltaStats+compact
    // caller-side. `AutoCompactDefault` encodes the 8-16 knee's
    // conservative end. The deltaStats probe is manifest-only, so the
    // steady-state (no-compaction) cost is one manifest read.
    var attempt = 0
    while (true) {
      try {
        val v = mergeOnce(spark, path, updates, keyCols, deleteCol,
          numBuckets, mor, txn)
        if (mor && autoCompactLayers > 0) {
          val (_, maxPerBucket, _) = deltaStats(spark, path)
          if (maxPerBucket >= autoCompactLayers) {
            // the MERGE is already durably committed — auto-compaction
            // is opportunistic maintenance on top, so (a) it re-applies
            // the table's DECLARED clustering layout (flattening a
            // chunked table would silently void its data-skipping
            // stats), and (b) losing a compaction race to a concurrent
            // writer must not surface as a merge failure (the goal —
            // fewer layers — was achieved by whoever won; a retried
            // "failed" merge would double-apply the batch)
            val sn = snapshot(spark, path)
            val l = sn.layout.getOrElse(Layout(Nil, 1))
            try return compact(spark, path, l.cols, l.chunks, l.zorder)
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[VersionedTable] auto-compaction of " +
                s"$path deferred (merge version $v is committed; " +
                s"next threshold crossing retries): ${e.getMessage.take(160)}")
            }
          }
        }
        return v
      }
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxConflictRetries) throw e
          System.err.println(s"[VersionedTable] merge of $path hit a true " +
            s"commit conflict (${e.getMessage.take(120)}); recomputing " +
            s"against the fresh snapshot (retry $attempt/$maxConflictRetries)")
      }
    }
    -1L // unreachable
  }

  /** The measured auto-compaction threshold: resolved-read cost knees
    * between 8 and 16 live layers per bucket (study mor_layers); 8 is
    * the conservative end. Pass to `merge(autoCompactLayers = ...)`. */
  val AutoCompactDefault = 8

  /** OCC operating rule, as a helper (study_r10.json
    * `occ_throughput_sf01`: bucket-DISJOINT writers commit 2.7× faster
    * than overlapping ones because every lost race rebases in O(1)
    * instead of recomputing the merge body): split a batch into
    * `writers` bucket-disjoint slices with the TABLE's OWN bucket
    * arithmetic — `pmod(xxhash64(keys), numBuckets) % writers` — so N
    * concurrent `merge` calls, one per slice, never contend on a
    * bucket. The slices partition the batch exactly (every row lands
    * in exactly one slice); key columns must already be cast to the
    * table's key types (the same contract merge itself enforces). */
  def partitionForWriters(updates: DataFrame, keyCols: Seq[String],
      writers: Int, numBuckets: Int = 64): Seq[DataFrame] = {
    require(writers > 0, "writers must be positive")
    require(numBuckets > 0, "numBuckets must be positive")
    (0 until writers).map { w =>
      updates.filter(
        pmod(bucketOf(keyCols, numBuckets), lit(writers)) === lit(w))
    }
  }

  private def mergeOnce(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], deleteCol: Option[String],
      numBuckets: Int, mor: Boolean = false,
      txn: Option[(String, Long)] = None): Long = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    require(numBuckets > 0, "numBuckets must be positive")
    require(!updates.columns.contains(KB),
      s"updates must not carry a '$KB' column — it is the table's bucket key")
    // DEL/LAYER are the merge-on-read resolution internals; a batch
    // carrying either would collide with the columns merge itself adds
    // (duplicate-column write failure at best, silently mis-resolved
    // tombstones at worst), so reject it as loudly as the KB case
    Seq(DEL, LAYER).foreach(c => require(!updates.columns.contains(c),
      s"updates must not carry a '$c' column — reserved merge-on-read internal"))
    deleteCol.foreach(c => require(updates.columns.contains(c),
      s"deleteCol '$c' not in updates schema ${updates.columns.mkString(",")}"))
    val (fs, root) = fsOf(spark, path)
    // latest-version resolution, not a full listing: a streaming sink
    // merges once per micro-batch into a table whose history GROWS one
    // commit per batch — the base load must stay O(1) in history depth
    val headV = latestVersion(spark, path)
    val baseSn0: Option[Snapshot] = if (headV.isEmpty) None else {
      val sn = loadSnapshot(fs, root, path, headV.get)
      require(sn.numBuckets == numBuckets,
        s"table $path currently has numBuckets=${sn.numBuckets}, " +
          s"merge called with $numBuckets — pass the current count " +
          "(change it with rebucket)")
      require(sn.keyCols == keyCols,
        s"table $path is keyed by (${sn.keyCols.mkString(",")}), " +
          s"merge called with (${keyCols.mkString(",")})")
      Some(sn)
    }
    // Idempotent-replay gate: the whole point is to decide BEFORE any
    // job runs — a skipped batch costs one manifest read, nothing else
    txn.foreach { case (appId, tv) =>
      require(appId.nonEmpty, "txn appId must be non-empty")
      baseSn0.foreach { sn =>
        if (sn.txns.get(appId).exists(_ >= tv)) return sn.version
      }
    }
    // KEY TYPES ARE THE BUCKETING: xxhash64 of an int and of the same
    // value as a long DIFFER, so a batch whose key column arrives in a
    // coercibly different type must be cast to the TABLE's key type
    // before anything hashes — otherwise the batch's buckets, the
    // survivors anti-join, and the owner re-pointing all disagree with
    // where the table's rows actually live (silent duplicates and
    // dropped rows). Only a lossless upcast of the batch is accepted;
    // data (non-key) columns keep unionByName's widening as before.
    val alignedUpdates = baseSn0 match {
      case None => updates
      case Some(sn) =>
        updates.select(updates.columns.toSeq.map { c =>
          if (!keyCols.contains(c)) col(c)
          else {
            val bt = updates.schema(c).dataType
            val tt = sn.schema(c).dataType
            if (bt == tt) col(c)
            else if (widen(bt, tt).contains(tt)) col(c).cast(tt).as(c)
            else throw new IllegalArgumentException(
              s"merge: key column '$c' arrives as $bt but table $path is " +
                s"keyed by $tt — key types feed the bucket hash, so only a " +
                "lossless upcast of the batch is accepted (rewrite the " +
                "table to change a key's type)")
          }
        }: _*)
    }
    val bucket = bucketOf(keyCols, numBuckets)
    val u = alignedUpdates.persist()
    try {
      // one job: per-key multiplicity, null keys, and the affected
      // bucket set together
      val affected = Sources.keyBatchBuckets(u, keyCols, bucket, "merge")
      val dataCols = u.columns.filterNot(c => deleteCol.contains(c)).toSeq
      val upserts = deleteCol
        .map(c => u.filter(!coalesce(col(c), lit(false))))
        .getOrElse(u)
        .select(dataCols.map(col): _*)
      val v = baseSn0.map(_.version + 1).getOrElse(0L)
      val dir = f"d$v%08d_" + java.util.UUID.randomUUID().toString.take(8)
      // mor applies only to an EXISTING table — creation writes the base
      val morEff = mor && baseSn0.nonEmpty
      val (toWrite, commitSchema, baseSn, feed) =
        if (baseSn0.isEmpty)
          // table creation has no "before" to diff against: no feed
          // (version 0 never appears as the TO side of a changes range)
          (upserts, upserts.schema, None: Option[Snapshot], None: Option[DataFrame])
        else {
          val sn = baseSn0.get
          if (affected.isEmpty) return sn.version // empty batch: no-op
          // the RESOLVED view of the affected buckets: any live delta
          // layers apply before this merge reads its before-state, so
          // COW-over-MoR folds correctly and the feed's pre-images are
          // the true current rows
          val cur = resolved(spark, path, sn, Some(affected))
          // the commit's Θ(batch) row diff, materialized alongside the
          // data (Delta CDF's _change_data): pre = the batch keys'
          // current rows (one more bucket-pruned scan, row-pruned by
          // the semi join — cheaper at scale than persisting the
          // affected buckets just to avoid it), post = the upserts;
          // no-op rewrites cancel in classifyDiff. This is what makes
          // changes()/maintain() batch-sized however the keys scatter.
          val pre =
            cur.join(u.select(keyCols.map(col): _*), keyCols, "left_semi")
          // feed types come from the MERGED schema — unionByName may
          // WIDEN coercible types (int batch into a long column), and
          // the diff must compare both sides in the committed types,
          // not reject a merge the write itself accepts
          val mergedSchema = cur.limit(0)
            .unionByName(upserts.limit(0), allowMissingColumns = true).schema
          val feedCols =
            unionDataCols(mergedSchema.fields, keyCols, "after the merge")
          val feedDf = rowDiff(pre, upserts, keyCols, feedCols)
          if (morEff) {
            // MERGE-ON-READ: write ONLY the batch as a delta layer —
            // upserts plus tombstone rows flagged `_mor_del` — and
            // leave every base file untouched. Write amplification is
            // ~1x by construction (measured vs COW's scatter-batch
            // blowup in study_r10.json `cow_write_amplification`);
            // reads pay the layer resolution until `compact` folds it.
            val delta = u.withColumn(DEL, deleteCol
                .map(c => coalesce(col(c), lit(false)))
                .getOrElse(lit(false)))
              .select((dataCols :+ DEL).map(col): _*)
            (delta, mergedSchema, Some(sn), Some(feedDf))
          } else {
            val survivors =
              cur.join(u.select(keyCols.map(col): _*), keyCols, "left_anti")
            val merged =
              survivors.unionByName(upserts, allowMissingColumns = true)
            (merged, merged.schema, Some(sn), Some(feedDf))
          }
        }
      // The bucket write and the CDC-feed write are INDEPENDENT jobs
      // over the same persisted batch + bucket-pruned base scan, and
      // both must land before the manifest — so they run CONCURRENTLY
      // (guide §2.6: actions are only sequential because the driver
      // calls them sequentially; the second job back-fills executors
      // the first job's tail leaves idle). The feed stages to a
      // dot-prefixed sibling (the main write's mode("error") existence
      // probe must not race the feed creating $dir first) and is
      // RENAMED into $dir/_cdc once the data write has created $dir —
      // rename is metadata-only on one filesystem, and both writes
      // still strictly precede the manifest, so the crash contract is
      // unchanged (orphan dirs for vacuum, never a committed version
      // with a missing feed).
      // mode("error"): the dir is version-unique, anything there is a bug
      // REBALANCE, not the join's raw task layout: a batch-sized feed
      // from a 32-partition exchange otherwise lands as 32 near-empty
      // files, and every later feed read (changes(), the published
      // stream's per-file micro-batches, the publish copy itself) pays
      // the file count. AQE sizes the rebalance output — one file for
      // small feeds, target-size splits for huge ones.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val cdcTmpName = s".cdc_tmp_$dir"
      val cdcF: Option[Future[StructType]] = feed.map { f =>
        Future {
          f.hint("rebalance").write.mode("error").parquet(s"$path/$cdcTmpName")
          f.schema
        }
      }
      try
        toWrite.withColumn(KB, bucket)
          .repartition(col(KB))
          .write.mode("error").partitionBy(KB).parquet(s"$path/$dir")
      catch { case e: Throwable =>
        // reap the staged feed, best-effort: the wait is BOUNDED so a
        // hung feed job cannot hide this failure; a feed still running
        // after it leaves $cdcTmpName, an unreferenced dir vacuum sweeps
        cdcF.foreach { cf =>
          try { Await.ready(cf, Duration(60, "s"))
                fs.delete(new HPath(root, cdcTmpName), true) }
          catch { case _: Exception => () }
        }
        throw e
      }
      val cdc = cdcF.map { cf =>
        val schema = Await.result(cf, Duration.Inf)
        require(fs.rename(new HPath(root, cdcTmpName),
            new HPath(root, s"$dir/_cdc")),
          s"staged CDC feed rename failed for $path/$dir")
        (s"$dir/_cdc", schema)
      }
      val staged = listBuckets(fs, new HPath(root, dir))
      // manifest-carried delta payload bytes: ONE content-summary per
      // staged bucket at COMMIT time (the writer's own fresh output),
      // so deltaStats — the compaction-cadence probe every
      // auto-compact-enabled merge consults — reads the manifest
      // instead of re-listing the table's whole delta tree
      // (O(layers × buckets) FS RPCs per probe otherwise)
      val stagedDeltaBytes: Map[String, Long] =
        if (!morEff) Map.empty
        else staged.map { b =>
          val key = s"$dir/$KB=$b"
          key -> fs.getContentSummary(new HPath(root, key)).getLength
        }.toMap
      // on a layout-DECLARED table, a COW merge re-stats the bucket
      // files it just rewrote (Θ(touched files) footer reads) — without
      // this, every merged bucket reads un-prunable until the next
      // chunked compaction; the rewritten file spans its bucket's full
      // range, so the stats prune less than chunked ones, but they are
      // sound and keep range scans partially pruned between compactions.
      // MoR delta files are read by the resolution layers, not the
      // FileIndex, so stats for them would never be consulted.
      val mergeStats =
        if (morEff) Map.empty[String, Map[String, (String, String)]]
        else baseSn.flatMap(_.layout) match {
          case Some(l) =>
            val statCols = l.cols.filter(c =>
              commitSchema.fields.exists(f => f.name == c &&
                statsSupported(f.dataType)))
            collectFileStats(spark, fs, root, dir, statCols)
          case None => Map.empty[String, Map[String, (String, String)]]
        }
      val committed =
        commitWithRebase(spark, fs, root, path, dir, staged, affected,
          baseSn, commitSchema, keyCols, numBuckets, cdc, morEff, txn,
          mergeStats, stagedDeltaBytes)
      // post-commit publication sweep: this version's feed plus any
      // predecessor's a crash left committed-but-unpublished. The
      // commit is already durable, so a transient publish failure must
      // not make the merge LOOK failed (a retry would commit a phantom
      // version) — the next sweep heals it, which is the same
      // guarantee a crash here gets
      try publishFeeds(spark, path)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[VersionedTable] feed publication for $path deferred " +
            s"(version $committed committed; next merge/publishFeeds heals): $e")
      }
      committed
    } finally u.unpersist(blocking = false)
  }

  /** Test seam: runs once immediately before a merge's FIRST commit
    * attempt, so specs can interleave a competing committed merge
    * deterministically (a wall-clock race would be flaky). Cleared
    * after use by the spec; never set in production. */
  private[graft] var beforeCommitHook: () => Unit = () => ()

  /** The optimistic-commit loop. Attempts the put-if-absent manifest
    * create for `base.version + 1`; on losing the race, re-reads the
    * winner's snapshot and REBASES when — and only when — the rebase
    * is provably exact:
    *   - the winner left every one of OUR affected buckets' owners
    *     untouched (disjoint buckets ⇒ disjoint keys ⇒ our staged
    *     survivors, upserts, and feed are bit-identical to what a
    *     serial re-run would produce),
    *   - layout (numBuckets, keyCols) and table schema are unchanged
    *     (our manifest records OUR merged schema — committing it over
    *     an interleaved widening would silently narrow the table).
    * Anything else — overlapping buckets, schema change,
    * compact/rebucket (every owner changes), a creation race — throws
    * IllegalStateException: a REAL conflict the caller must replay
    * against the new state. The staged data dir's name embeds the
    * ORIGINAL target version; after a rebase the committed version can
    * be higher — the name is an opaque id, only manifests bind
    * versions to dirs. */
  private def commitWithRebase(spark: SparkSession, fs: FileSystem,
      root: HPath, path: String, dir: String, staged: Seq[Int],
      affected: Set[Int], base: Option[Snapshot], schema: StructType,
      keyCols: Seq[String], numBuckets: Int,
      cdc: Option[(String, StructType)], mor: Boolean = false,
      txn: Option[(String, Long)] = None,
      newStats: Map[String, Map[String, (String, String)]] = Map.empty,
      newDeltaBytes: Map[String, Long] = Map.empty): Long = {
    val hook = beforeCommitHook
    beforeCommitHook = () => ()
    hook()
    var cur = base
    var tries = 0
    while (true) {
      val v = cur.map(_.version + 1).getOrElse(0L)
      val (owners, deltaDirs, deltas) =
        if (mor) {
          // MoR commit: owners untouched, the staged dir APPENDS as the
          // newest delta layer of exactly its staged buckets
          val b = cur.get // mor requires an existing table (mergeOnce)
          (b.owners,
            b.deltaDirs :+ dir,
            b.deltas ++ staged.map(k => k -> (b.deltas.getOrElse(k, Nil) :+ dir)))
        } else {
          // COW commit: the new dir OWNS its buckets, and any delta
          // layers those buckets carried are folded in (the staged
          // files came from the resolved view) — drop their membership
          // and any dir no bucket references anymore
          val prunedDeltas = cur.map(_.deltas -- affected)
            .getOrElse(Map.empty[Int, Seq[String]])
          val liveDirs = prunedDeltas.values.flatten.toSet
          (cur.map(_.owners -- affected).getOrElse(Map.empty[Int, String]) ++
            staged.map(_ -> dir),
            cur.map(_.deltaDirs.filter(liveDirs)).getOrElse(Nil),
            prunedDeltas)
        }
      try {
        // data-skipping stats survive only where the file they describe
        // is still the live serve for its bucket — "D/kb=B/f" stays iff
        // owners(B) == D (a COW rewrite of B drops B's entries; MoR
        // append touches no owners so all stats ride through)
        val stats = cur.map(_.fileStats).getOrElse(Map.empty).filter {
          case (p, _) =>
            val parts = p.split("/")
            parts.length >= 2 &&
              parts(parts.length - 2).startsWith(s"$KB=") &&
              scala.util.Try(parts(parts.length - 2).stripPrefix(s"$KB=").toInt)
                .toOption.exists(b => owners.get(b)
                  .contains(parts.dropRight(2).mkString("/")))
        }
        // delta payload bytes live exactly as long as their (dir,
        // bucket) membership: a COW rewrite that folds bucket B out of
        // dir D drops "D/kb=B" here, same rule as `deltas` itself
        val carriedDeltaBytes =
          cur.map(_.deltaBytes).getOrElse(Map.empty).filter { case (p, _) =>
            val parts = p.split("/")
            parts.length >= 2 &&
              parts.last.startsWith(s"$KB=") &&
              scala.util.Try(parts.last.stripPrefix(s"$KB=").toInt).toOption
                .exists(b => deltas.get(b)
                  .exists(_.contains(parts.dropRight(1).mkString("/"))))
          } ++ newDeltaBytes
        writeManifest(fs, root, v, numBuckets, keyCols, schema, owners, cdc,
          deltaDirs, deltas,
          cur.map(_.txns).getOrElse(Map.empty) ++ txn, stats ++ newStats,
          cur.flatMap(_.layout), carriedDeltaBytes)
        return v
      } catch {
        case e: java.io.IOException if fs.exists(manifestPath(root, v)) =>
          tries += 1
          require(tries <= 20, // a livelock here means a pathological writer storm
            s"merge of $path lost the commit race 20 times in a row: $e")
          val winner = snapshot(spark, path, None)
          // a true conflict abandons the staged dir — delete it now so a
          // retry loop doesn't pile up orphans (vacuum would sweep them,
          // but a bounded-retry storm shouldn't need it)
          def abandonStaged(): Unit =
            try fs.delete(new HPath(root, dir), true)
            catch { case _: java.io.IOException => () } // vacuum's job then
          // the winner may BE our batch: two executions of the same
          // idempotent writer racing (a zombie driver after failover is
          // the textbook case) — the watermark says the rows are
          // committed, so the only correct ending is skip, not re-apply
          txn.foreach { case (appId, tv) =>
            if (winner.txns.get(appId).exists(_ >= tv)) {
              abandonStaged()
              return winner.version
            }
          }
          val b = cur.getOrElse {
            abandonStaged()
            throw new ConcurrentCommitException(
              s"concurrent CREATION of versioned table $path — two writers " +
                "initialized the same table; re-run one as a merge")
          }
          def conflict(what: String): Nothing = {
            abandonStaged()
            throw new ConcurrentCommitException(
              s"merge of $path conflicts with concurrently committed version " +
                s"${winner.version}: $what — recompute the batch against the " +
                "new state and re-merge")
          }
          if (winner.numBuckets != numBuckets || winner.keyCols != keyCols)
            conflict(s"table layout changed (rebucket) to " +
              s"${winner.numBuckets} buckets / (${winner.keyCols.mkString(",")})")
          // name+type shape, not ==: nullability drifts on any parquet
          // round-trip and is not a semantic schema change
          def shape(s: StructType) =
            s.fields.toSeq.map(f => (f.name, f.dataType.catalogString))
          if (shape(winner.schema) != shape(b.schema))
            conflict("table schema changed")
          // a bucket counts as touched when the winner changed its
          // OWNER (a COW rewrite) *or* its DELTA layers (a MoR append/
          // fold) — either way our staged files and feed pre-images
          // were computed against a state the winner replaced
          val touched = affected.filter(k =>
            winner.owners.get(k) != b.owners.get(k) ||
              winner.deltas.getOrElse(k, Nil) != b.deltas.getOrElse(k, Nil))
          if (touched.nonEmpty)
            conflict(s"it rewrote bucket(s) ${touched.toSeq.sorted.take(8).mkString(",")}" +
              " that this merge also touches")
          cur = Some(winner) // disjoint: rebase and retry
      }
    }
    -1L // unreachable
  }

  /** Version history as a DataFrame (the DESCRIBE HISTORY analog):
    * one row per retained version with its layout, schema width, how
    * many bucket owners the commit changed vs its retained predecessor
    * (owner-map diff, NOT dir-name parsing — an OCC rebase commits
    * under a dir named for its original target version; a merge shows
    * ≤ its key count, a compact/rebucket every bucket, a restore the
    * rolled-back set), and whether a materialized feed is attached.
    * Reads only the manifests: O(commits) manifest reads BY CONTRACT
    * (one row per version, each manifest self-contained), no data
    * files touched at any table size. Measured slope ~0.18 ms/commit
    * on local storage — 1.85 s for a 10,240-commit history
    * (study_r15.json `sink_depth.history_10240_sec`); a deployment
    * that needs bounded DESCRIBE-HISTORY latency on very deep logs
    * should vacuum or cap the report, not expect a sublinear read —
    * the cost IS the report size. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val (fs, root) = fsOf(spark, path)
    // O(versions) manifest READS by contract (one row per version) —
    // but one _log listing total, not one per version (study_r14.json)
    val sns = versions(spark, path).map(v => loadSnapshot(fs, root, path, v))
    sns.zipWithIndex.map { case (sn, i) =>
      // a bucket changed when its OWNER moved (COW) or its DELTA
      // layer list did (a MoR append, or a COW/compact fold) — for a
      // pure-COW history this is exactly the old owner-map diff
      val changed =
        if (i == 0) sn.owners.size
        else (sn.owners.keySet ++ sns(i - 1).owners.keySet ++
          sn.deltas.keySet ++ sns(i - 1).deltas.keySet)
          .count(b => sn.owners.get(b) != sns(i - 1).owners.get(b) ||
            sn.deltas.getOrElse(b, Nil) != sns(i - 1).deltas.getOrElse(b, Nil))
      (sn.version, sn.numBuckets, sn.keyCols.mkString(","),
        sn.schema.fields.length, sn.owners.size, changed, sn.cdc.isDefined)
    }.toDF("version", "num_buckets", "key_cols", "n_columns",
      "live_buckets", "buckets_changed", "has_feed")
      .orderBy($"version")
  }

  /** Key-scoped POINT READ — the serving-path lookup: rows of the
    * requested keys at a version, reading only those keys' buckets.
    * `keys` must carry exactly the table's key columns; the result is
    * a semi-join of the bucket-pruned scan against the (broadcast-
    * sized) key batch. On a 100 TB table a k-key lookup reads
    * ~min(k, B) buckets — with merge's one-file-per-bucket layout,
    * ~min(k, B) files — never the table. */
  def lookup(spark: SparkSession, path: String, keys: DataFrame,
      asOf: Option[Long] = None): DataFrame = {
    val sn = snapshot(spark, path, asOf)
    require(keys.columns.sorted.toSeq == sn.keyCols.sorted,
      s"lookup keys must be exactly (${sn.keyCols.mkString(",")}); " +
        s"got (${keys.columns.mkString(",")})")
    // KEY TYPES ARE THE BUCKETING here exactly as in merge: an int-typed
    // key batch probing a long-keyed table would hash to DIFFERENT
    // buckets (xxhash64(int) != xxhash64(long)) and silently return no
    // rows — align the batch to the TABLE's key types before anything
    // hashes, accepting only a lossless upcast.
    val alignedKeys = keys.select(sn.keyCols.map { c =>
      val bt = keys.schema(c).dataType
      val tt = sn.schema(c).dataType
      if (bt == tt) col(c)
      else if (widen(bt, tt).contains(tt)) col(c).cast(tt).as(c)
      else throw new IllegalArgumentException(
        s"lookup: key column '$c' arrives as $bt but table $path is keyed " +
          s"by $tt — key types feed the bucket hash, so only a lossless " +
          "upcast of the key batch is accepted")
    }: _*)
    val bucket = bucketOf(sn.keyCols, sn.numBuckets)
    val wanted = alignedKeys.select(bucket.as(KB)).distinct()
      .collect().map(_.getInt(0)).toSet
    resolved(spark, path, sn, Some(wanted))
      .join(broadcast(alignedKeys), sn.keyCols, "left_semi")
  }

  /** Union of `fields` minus the key columns, first occurrence wins;
    * a name seen twice with different types fails loudly (`ctx` names
    * the boundary in the message) — a retyped column has no single
    * feed schema. */
  /** Widest common type for a column seen with two types — the same
    * lattice `unionByName` widens along for the integral/fractional
    * numerics a merge batch realistically drifts on. None = no single
    * feed type exists (reject loudly). */
  private def widen(a: DataType, b: DataType): Option[DataType] = {
    import org.apache.spark.sql.types._
    val ints: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    val fracs: Seq[DataType] = Seq(FloatType, DoubleType)
    if (a == b) Some(a)
    else if (ints.contains(a) && ints.contains(b))
      Some(ints(math.max(ints.indexOf(a), ints.indexOf(b))))
    else if (fracs.contains(a) && fracs.contains(b))
      Some(fracs(math.max(fracs.indexOf(a), fracs.indexOf(b))))
    else None
  }

  private def unionDataCols(fields: Seq[org.apache.spark.sql.types.StructField],
      keys: Seq[String], ctx: String): Vector[(String, DataType)] =
    fields.filterNot(f => keys.contains(f.name))
      .foldLeft(Vector.empty[(String, DataType)]) { case (acc, f) =>
        acc.indexWhere(_._1 == f.name) match {
          case -1 => acc :+ (f.name -> f.dataType)
          case i =>
            val t0 = acc(i)._2
            val w = widen(t0, f.dataType).getOrElse(throw
              new IllegalArgumentException(
                s"column ${f.name} changed type $t0 -> ${f.dataType} $ctx"))
            acc.updated(i, (f.name, w))
        }
      }

  /** The single column-alignment rule every diff path shares: a column
    * the frame carries is CAST to the agreed feed type (a widened
    * numeric compares in the widened type), an absent one reads null —
    * keeping the materialized, derived, and collapsed paths
    * bit-identical by construction. */
  private def aligned(df: DataFrame,
      dataCols: Seq[(String, DataType)]): Seq[Column] = {
    val have = df.columns.toSet
    dataCols.map { case (n, t) =>
      (if (have(n)) col(n).cast(t) else lit(null).cast(t)).as(n) }
  }

  /** Project `df` to (keys, `alias` = struct of `dataCols`), aligned. */
  private def sideOf(df: DataFrame, alias: String, keys: Seq[String],
      dataCols: Seq[(String, DataType)]): DataFrame =
    df.select(keys.map(col) :+
      struct(aligned(df, dataCols): _*).as(alias): _*)

  /** Classify (keys, pre, post) rows into CDF rows: equal (null-safe,
    * INCLUDING both-absent — an insert that was deleted again inside
    * the range) emits nothing; one-sided emits insert/delete; a
    * differing pair emits update_pre + update_post. Shared by the
    * derived diff, the merge-time materialization, and the
    * multi-commit collapse, so all three agree bit-for-bit. */
  private def classifyDiff(prePost: DataFrame, keys: Seq[String],
      dataCols: Seq[(String, DataType)]): DataFrame = {
    val rowT = StructType(dataCols.map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n, t) })
    val arrT = org.apache.spark.sql.types.ArrayType(StructType(Seq(
      org.apache.spark.sql.types.StructField("change",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("row", rowT))))
    // explode skips a null array, so unchanged keys emit nothing
    val cases = when(col("pre") <=> col("post"), lit(null).cast(arrT))
      .when(col("pre").isNull,
        array(struct(lit("insert").as("change"), col("post").as("row"))))
      .when(col("post").isNull,
        array(struct(lit("delete").as("change"), col("pre").as("row"))))
      .otherwise(array(
        struct(lit("update_pre").as("change"), col("pre").as("row")),
        struct(lit("update_post").as("change"), col("post").as("row"))))
    prePost.select(keys.map(col) :+ explode(cases).as("c"): _*)
      .select(Seq(col("c.change").as("change")) ++ keys.map(col) ++
        dataCols.map { case (n, _) => col(s"c.row.$n").as(n) }: _*)
  }

  private def rowDiff(pre: DataFrame, post: DataFrame, keys: Seq[String],
      dataCols: Seq[(String, DataType)]): DataFrame =
    classifyDiff(
      sideOf(pre, "pre", keys, dataCols)
        .join(sideOf(post, "post", keys, dataCols), keys, "full_outer"),
      keys, dataCols)

  /** Row-level CHANGE FEED between two committed versions — what a
    * downstream consumer replays to catch up from `fromV` to `toV`
    * without rescanning the table. Returns one row per inserted or
    * deleted key and TWO rows per updated key (`update_pre` with the
    * old values, `update_post` with the new — the Delta CDF shape), a
    * `change` column first, key columns next, then the union of both
    * versions' data columns (a column absent at one version reads null
    * there, matching that version's own snapshot read).
    *
    * Scale — two paths, one contract:
    *   - MATERIALIZED (default): every merge writes its Θ(batch) row
    *     diff next to the commit (`<dir>/_cdc`, Delta CDF's
    *     _change_data), so when every version in (fromV, toV] carries
    *     one, the feed READS ONLY THE FEEDS — batch-sized, independent
    *     of how the batch's keys scatter over buckets. A multi-commit
    *     range collapses per key to the true fromV→toV diff (first
    *     pre vs last post; a value updated away and back, or inserted
    *     and deleted, emits nothing), so the contract is identical to
    *     the derived diff — asserted row-for-row in VersionedTableSpec
    *     and via v21's oracle.
    *   - DERIVED (fallback, or `materialized = false`): a bucket whose
    *     owner dir is IDENTICAL in both manifests cannot differ
    *     (commit dirs are immutable), so only buckets whose owner
    *     changed are read, from each side, and the full-outer key join
    *     runs over those buckets alone. Content-equal rows inside a
    *     rewritten bucket are dropped by a null-safe struct
    *     comparison. This is the only path across a `restore` (its
    *     diff is someone else's inverse, not a batch) or a vacuumed
    *     gap — and the regime where it hurts is exactly what the
    *     materialized path removes: a key-SCATTERED 1k-row batch marks
    *     every bucket changed, so the derived feed rereads ~the table
    *     twice, while the materialized feed reads 1k rows (measured in
    *     study_r9.json `ivm_study_sf1`).
    * A compact commit carries an EMPTY materialized feed, so feeds
    * across compaction are free on the default path. */
  def changes(spark: SparkSession, path: String,
      fromV: Long, toV: Long, materialized: Boolean = true): DataFrame = {
    require(fromV < toV, s"changes needs fromV < toV, got $fromV >= $toV")
    val snT = snapshot(spark, path, Some(toV))
    val keys = snT.keyCols
    val vs = versions(spark, path).toSet
    val feeds: Seq[Option[(Long, String, StructType)]] =
      if (!materialized) Seq(None)
      else (fromV + 1 to toV).map { v =>
        if (!vs.contains(v)) None
        else snapshot(spark, path, Some(v)).cdc.map(c => (v, c._1, c._2))
      }
    // the materialized path never opens fromV itself — the feeds carry
    // the before-state — so a consumer can catch up FROM a vacuumed
    // version as long as every later step's feed is retained; only the
    // derived fallback (which must rescan fromV's buckets) requires it
    if (feeds.forall(_.isDefined)) {
      val fs = feeds.flatten
      val dataCols = unionDataCols(
        fs.flatMap(_._3.fields).filterNot(_.name == "change"), keys,
        s"between the feeds of versions $fromV and $toV")
      // the feed's listed part files, not its `_cdc` dir: Spark warns
      // "All paths were ignored" for a `_`-prefixed root on every read
      val (hfs, root) = fsOf(spark, path)
      def readFeed(v: Long, dir: String, sch: StructType): DataFrame = {
        val parts = hfs.listStatus(new HPath(root, dir)).map(_.getPath)
          .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
          .map(_.toString)
        spark.read.schema(sch).parquet(parts.toIndexedSeq: _*)
      }
      if (fs.size == 1) {
        // one commit: its feed IS the diff — no collapse, no shuffle
        val (v, dir, sch) = fs.head
        val df = readFeed(v, dir, sch)
        df.select(Seq(col("change")) ++ keys.map(col) ++
          aligned(df, dataCols): _*)
      } else {
        // collapse per key: order events by (version, pre-before-post);
        // the range's pre is the FIRST event's pre side (absent if it
        // was an insert), its post the LAST event's post side (absent
        // if it was a delete) — then reclassify, which also cancels
        // round-trips (update away and back ⇒ pre <=> post ⇒ nothing)
        val all = fs.map { case (v, dir, sch) =>
          val df = readFeed(v, dir, sch)
          df.select(keys.map(col) ++
            Seq(col("change"), struct(aligned(df, dataCols): _*).as("row"),
              lit(v).as("_v")): _*)
        }.reduce(_ unionByName _)
        val ord = col("_v") * 2 +
          when(col("change").isin("insert", "update_post"), 1L).otherwise(0L)
        val keyed = all.select(
          keys.map(col) ++
            Seq(struct(col("change"), col("row")).as("e"),
              ord.as("_ord")): _*)
        val g = keyed.groupBy(keys.map(col): _*)
          .agg(min_by(col("e"), col("_ord")).as("f"),
            max_by(col("e"), col("_ord")).as("l"))
        val pre = when(col("f.change").isin("update_pre", "delete"),
          col("f.row"))
        val post = when(col("l.change").isin("update_post", "insert"),
          col("l.row"))
        classifyDiff(
          g.select(keys.map(col) ++ Seq(pre.as("pre"), post.as("post")): _*),
          keys, dataCols)
      }
    } else {
      val snF = snapshot(spark, path, Some(fromV))
      // immutable dirs ⇒ a bucket can only differ when its owner moved
      // OR its delta-layer list changed (MoR append / fold)
      val changed = (snF.owners.keySet ++ snT.owners.keySet ++
        snF.deltas.keySet ++ snT.deltas.keySet)
        .filter(b => snF.owners.get(b) != snT.owners.get(b) ||
          snF.deltas.getOrElse(b, Nil) != snT.deltas.getOrElse(b, Nil))
      // union of both versions' data columns; a type change between
      // versions has no single read schema, so it fails loudly
      val dataCols = unionDataCols(snF.schema.fields ++ snT.schema.fields,
        keys, s"between versions $fromV and $toV")
      // each side is ONE index-backed scan of the changed buckets (plus
      // delta resolution when layers are live) — the derived fallback
      // (restore catch-up, vacuumed gaps) is the path most likely to
      // read MANY buckets, exactly where the union-of-dirs form pays a
      // scan node per commit dir
      rowDiff(resolved(spark, path, snF, Some(changed)),
        resolved(spark, path, snT, Some(changed)), keys, dataCols)
    }
  }

  /** INCREMENTAL VIEW MAINTENANCE (the counting algorithm) over a
    * change feed in this table's CDF shape: refresh a materialized
    * count/sum aggregate from the row DIFF instead of recomputing it
    * from the snapshot. Each feed row carries a signed weight — +1 for
    * `insert`/`update_post`, −1 for `delete`/`update_pre` — so the
    * per-group delta is a plain aggregation of the feed, and the
    * refreshed view is `view ⊎ delta` re-aggregated, dropping groups
    * whose multiplicity support reaches zero. Cost is
    * Θ(|delta| + |view|) — at 100 TB the feed is merge-batch-sized and
    * the view is groups-sized, so maintenance never touches the table;
    * the recompute it replaces is a full snapshot scan per refresh.
    * Requirements, stated not assumed: `countCol` must be a COUNT
    * (multiplicity) column and `sumCols` SUM columns — min/max and
    * other non-subtractable aggregates cannot be maintained from a
    * diff (a deleted max needs the runner-up) and belong to the
    * recompute path. With integer-exact sum columns the maintained
    * view is BIT-IDENTICAL to the recompute (addition is associative
    * and every delete cancels exactly what its insert added) — that
    * equality is the oracle gate for v22_view_maintenance and the
    * band-emptying law in VersionedTableSpec.
    *
    * `feed` must carry `change` plus the view's group keys and sum
    * columns (project/derive them from the raw feed first — e.g. a
    * band key computed from a payload column). Updates that leave a
    * row's group and measures unchanged cancel out by construction.
    */
  def maintain(view: DataFrame, feed: DataFrame, keys: Seq[String],
      countCol: String, sumCols: Seq[String]): DataFrame = {
    val w = when(col("change").isin("insert", "update_post"), lit(1L))
      .otherwise(lit(-1L))
    val deltaAggs = sum(col("_w")).as(countCol) +:
      sumCols.map(c => sum(col("_w") * col(c)).as(c))
    val delta = feed.withColumn("_w", w)
      .groupBy(keys.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    val outCols = (keys :+ countCol) ++ sumCols
    val mergeAggs = sum(col(countCol)).as(countCol) +:
      sumCols.map(c => sum(col(c)).as(c))
    view.select(outCols.map(col): _*)
      .unionByName(delta.select(outCols.map(col): _*))
      .groupBy(keys.map(col): _*)
      .agg(mergeAggs.head, mergeAggs.tail: _*)
      .filter(col(countCol) > 0)
  }

  /** TABLE-TO-TABLE incremental view maintenance: apply one change-feed
    * batch to a materialized view that itself lives as a VersionedTable
    * keyed by the view's group columns. This is the scale-safe form of
    * the standing-dashboard pattern — nothing about the view ever
    * touches the driver, so the group-key cardinality is unbounded
    * (per-user views at 100 TB are fine), unlike a driver-held
    * `collect()`ed Seq whose capacity IS the driver heap.
    *
    * Cost is Θ(batch), not Θ(view): the feed's touched groups are read
    * back via `lookup` (bucket-pruned point read of ~min(groups, B)
    * files), `maintain`'s counting algebra refreshes exactly those
    * groups, and the result merges back as an upsert batch with
    * tombstones for groups whose multiplicity support hit zero. The
    * view table's CDC feed then carries the view's own row diff for
    * free — IVM steps compose into cascades.
    *
    * Bootstrap the view once (e.g. `merge(viewPath, initialAggregate,
    * groupKeys)`) before the first call; same `countCol`/`sumCols`
    * contract as `maintain` (counts and sums only — non-subtractable
    * aggregates can't be maintained from a diff). Returns the view
    * table's new committed version (current version for an empty feed).
    */
  def maintainTable(spark: SparkSession, viewPath: String, feed: DataFrame,
      keys: Seq[String], countCol: String, sumCols: Seq[String]): Long = {
    val sn = snapshot(spark, viewPath, None)
    require(sn.keyCols == keys,
      s"view table $viewPath is keyed by (${sn.keyCols.mkString(",")}), " +
        s"maintainTable called with (${keys.mkString(",")})")
    // persist: the touched-key set feeds the lookup, the maintain
    // union, and the tombstone anti-join — without it the feed's
    // upstream (often a fresh micro-batch scan) re-runs per consumer
    val touched = feed.select(keys.map(col): _*).distinct().persist()
    try {
      if (touched.isEmpty) return sn.version
      val viewSlice = lookup(spark, viewPath, touched, Some(sn.version))
      val refreshed = maintain(viewSlice, feed, keys, countCol, sumCols)
      val del = "_ivm_delete"
      val outTypes = refreshed.schema
      // groups that existed, were touched, and no longer appear → tombstone
      val deletes = viewSlice.select(keys.map(col): _*)
        .join(refreshed.select(keys.map(col): _*), keys, "left_anti")
        .select(keys.map(col) ++ (countCol +: sumCols).map(c =>
          lit(null).cast(outTypes(c).dataType).as(c)): _*)
        .withColumn(del, lit(true))
      val batch = refreshed.withColumn(del, lit(false)).unionByName(deletes)
      merge(spark, viewPath, batch, keys, Some(del), sn.numBuckets)
    } finally touched.unpersist(blocking = false)
  }

  /** PUBLISH committed feeds for streaming: copy every committed
    * version's `_cdc` files to `_feed/v=<version>/` (staged dir +
    * rename, so a partially copied feed is never visible under the
    * `v=` glob). Returns the versions published by THIS call.
    *
    * Publication is the streaming half of the crash-safety story. The
    * `_cdc` copy is written BEFORE the manifest (so a committed
    * version always has its transactional feed), which means a
    * crashed, never-committed merge can leave an orphan `_cdc` — a
    * file-source stream globbing commit dirs would replay changes
    * that never happened. The published copy inverts the ordering:
    * it is written only AFTER the version is observed committed, so
    * `published ⇒ committed` and a stream over `_feed` can never see
    * a phantom change. The crash window on THIS side (committed but
    * not yet published) is self-healing: every `merge` ends with a
    * `publishFeeds` sweep, so the next writer publishes any
    * predecessor's missing feed and the stream sees it late, never
    * wrong. Idempotent and safe to call any time (a concurrent
    * publisher losing the rename race is fine — the winner's copy is
    * byte-identical, from the same immutable `_cdc`).
    *
    * NOT in the published stream: `restore` commits (their diff is
    * derived, never materialized — a rollback invalidates downstream
    * state wholesale; consumers re-sync from a snapshot plus
    * `changes(materialized = false)`), and version 0 (creation has no
    * before-state; consumers bootstrap from `read(asOf = Some(0))`
    * and stream feeds with `commit_version >= 1`). */
  def publishFeeds(spark: SparkSession, path: String,
      rescan: Boolean = false): Seq[Long] = {
    val (fs, root) = fsOf(spark, path)
    val feedRoot = new HPath(root, FEED)
    // The sweep is ascending and exhaustive, so after one completed
    // sweep every version ≤ its head is either published or known
    // feed-less: the `_swept` marker records that head and the next
    // sweep starts above it. Without it, a version with no feed (every
    // commit of a plain non-CDC table, or pre-CDC history) would be
    // re-opened by EVERY later sweep — an O(versions) manifest re-read
    // per commit that compounds to O(versions²) at streaming cadence
    // (a 10⁴-commit sweep measured 1,472 s before the watermark +
    // loadSnapshot split, 1.5 s after — BASELINE.md r14, study_r14.json
    // `manifest_scale`). The marker is best-effort (overwrite-rename; a
    // stale or lost marker only costs re-examining manifests — the
    // per-version exists() guard still makes publication idempotent).
    // CRASH healing is preserved: the marker only advances after a
    // completed sweep, so a publish that died mid-flight stays below it
    // and the next sweep retries. What the fast path will NOT notice is
    // a published dir deleted LATER (manual tampering/partial restore)
    // — repair that with `rescan = true`, which re-examines the full
    // history.
    val wmPath = new HPath(feedRoot, "_swept")
    val watermark: Long =
      if (rescan || !fs.exists(wmPath)) -1L
      else try {
        val in = fs.open(wmPath)
        try new String({
          val o = new java.io.ByteArrayOutputStream(); in.transferTo(o); o.toByteArray
        }, "UTF-8").trim.toLong
        finally in.close()
      } catch { case scala.util.control.NonFatal(_) => -1L }
    // Candidate versions above the watermark. Steady state (marker
    // present): the (watermark, head] RANGE via the head hint — an
    // O(gap) resolution with NO `_log` listing and NO O(published)
    // `_feed` listing, so a streaming sink's per-batch sweep stays flat
    // as its own history deepens (the r15 fix; the per-candidate
    // exists(dst) probe below is the idempotence guard the skipped
    // `_feed` listing used to provide). Cold/rescan: one listing of
    // each, with `already` skipping published versions' manifest opens.
    val (vs: Seq[Long], already: Set[Long]) =
      if (watermark >= 0)
        (latestVersion(spark, path).filter(_ > watermark)
          .map(h => (watermark + 1) to h: Seq[Long]).getOrElse(Seq.empty),
          Set.empty[Long])
      else {
        val pub: Set[Long] =
          if (!fs.exists(feedRoot)) Set.empty
          else fs.listStatus(feedRoot).toSeq.map(_.getPath.getName)
            .filter(_.startsWith("commit_version="))
            .map(_.stripPrefix("commit_version=").toLong).toSet
        (versions(spark, path), pub)
      }
    val published = vs.filter(v => v > watermark && !already(v)).flatMap { v =>
      // a range candidate vacuumed since the marker was written has no
      // manifest (and no _cdc left to publish) — skip, don't die
      val cdcOf =
        try loadSnapshot(fs, root, path, v).cdc
        catch { case _: java.io.FileNotFoundException => None }
      cdcOf.flatMap { case (cdcDir, _) =>
        val dst = new HPath(feedRoot, s"commit_version=$v")
        if (fs.exists(dst)) None
        else {
          val src = new HPath(root, cdcDir)
          val stage = new HPath(feedRoot,
            f".stage_v${v}_" + java.util.UUID.randomUUID().toString.take(8))
          fs.mkdirs(stage)
          val parts =
            if (fs.exists(src)) fs.listStatus(src).toSeq
              .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            else Seq.empty
          parts.foreach { p =>
            org.apache.hadoop.fs.FileUtil.copy(fs, p.getPath,
              fs, new HPath(stage, p.getPath.getName),
              false, spark.sparkContext.hadoopConfiguration)
          }
          if (fs.rename(stage, dst)) Some(v)
          else { // lost a concurrent-publish race: same bytes won
            fs.delete(stage, true)
            require(fs.exists(dst), s"publishing feed v=$v of $path failed")
            None
          }
        }
      }
    }
    // sweep completed through the listed head: advance the marker so
    // the next sweep skips everything at or below it. Racing sweeps
    // may interleave writes; the loser's (smaller) value only widens
    // the next re-examination window, never skips an unswept version.
    vs.lastOption.filter(_ > watermark).foreach { head =>
      fs.mkdirs(feedRoot)
      val tmp = new HPath(feedRoot,
        s"._swept_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      try {
        val out = fs.create(tmp, true)
        try out.write(head.toString.getBytes("UTF-8")) finally out.close()
        fs.delete(wmPath, false) // local rename refuses existing dst
        if (!fs.rename(tmp, wmPath)) fs.delete(tmp, false)
      } catch { case scala.util.control.NonFatal(_) =>
        try fs.delete(tmp, false)
        catch { case _: java.io.IOException => () } // marker is best-effort
      }
    }
    published
  }

  /** STREAMING READ of the published change feed — the downstream
    * half of the CDC loop (`readStream` over `_feed`, the battle-
    * tested file source: new `v=` dirs are discovered per micro-batch,
    * exactly-once via the stream's own checkpoint). Each row is one
    * CDF change with its commit version in `commit_version` (the
    * publish layout's partition column, so it costs no storage); a
    * consumer bootstraps from `read(asOf = Some(v0))` and processes
    * rows with `commit_version > v0`.
    * Because `maintain`'s counting algebra is linear, a micro-batch
    * that spans several versions (or splits one) refreshes a view to
    * exactly the same rows as per-version application — e27 certifies
    * the whole loop (merge → publish → stream → maintain) against the
    * relational oracle. Schema is the LATEST materialized feed's (the
    * file-source constraint: restart the stream after a widening
    * commit to pick up new columns); `restore` commits publish
    * nothing — see `publishFeeds`. */
  def changeFeedStream(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val schema = feedStreamSchema(spark, path)
    publishFeeds(spark, path) // heal before the source lists files
    // commit_version arrives as the publish layout's partition column
    spark.readStream
      .schema(schema)
      .options(options)
      .parquet(s"$path/$FEED")
  }

  /** The change-feed stream's row schema: the LATEST materialized
    * feed's columns plus `commit_version` (the publish layout's
    * partition column). Shared by [[changeFeedStream]] and the
    * `readStream.format("graft")` source so both surfaces emit
    * identical rows. */
  private[sources] def feedStreamSchema(spark: SparkSession,
      path: String): StructType = {
    // one _log listing, then loadSnapshot per walked version — the
    // reverse walk normally stops at the head (merges attach a feed);
    // only a tail of feed-less commits (compactions/restores) walks
    // further, and each step is a manifest READ, not a re-listing
    val (fs, root) = fsOf(spark, path)
    val vs = versions(spark, path)
    val feedSchema = vs.reverse.iterator
      .map(v => loadSnapshot(fs, root, path, v).cdc)
      .collectFirst { case Some((_, s)) => s }
      .getOrElse(throw new IllegalArgumentException(
        s"$path has no materialized feed to stream (only creation/" +
          "restore commits so far)"))
    require(!feedSchema.fieldNames.contains("commit_version"),
      "the table has a 'commit_version' column, which collides with " +
        "the feed stream's version column")
    StructType(feedSchema.fields :+
      org.apache.spark.sql.types.StructField("commit_version",
        org.apache.spark.sql.types.LongType))
  }

  /** Commit versions with a PUBLISHED feed dir, ascending — the
    * offset domain of the `graft` streaming source (one feed-root
    * listing, no manifest reads). */
  private[sources] def publishedFeedVersions(spark: SparkSession,
      path: String): Seq[Long] = {
    val (fs, root) = fsOf(spark, path)
    val feedRoot = new HPath(root, FEED)
    if (!fs.exists(feedRoot)) Seq.empty
    else fs.listStatus(feedRoot).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("commit_version="))
      .map(_.stripPrefix("commit_version=").toLong).sorted
  }

  /** One micro-batch of the published feed: rows of every commit in
    * (fromExclusive, toInclusive] — a read of exactly those published
    * `_feed/commit_version=N` dirs (feed dirs are immutable once
    * published, so a checkpoint replay of the same offset range reads
    * identical rows). The dirs are listed leaves under
    * `basePath = _feed`, so partition discovery still yields
    * `commit_version`; a read of the `_feed` root itself would make
    * Spark's path filter log "All paths were ignored" for the
    * `_`-prefixed root. An empty range is an empty frame. */
  private[graft] def feedBatch(spark: SparkSession, path: String,
      fromExclusive: Long, toInclusive: Long,
      schema: Option[StructType] = None): DataFrame = {
    // the schema is stable for a source's lifetime (the file-source
    // contract: restart after a widening commit) — a long-lived stream
    // passes its construction-time schema instead of paying the
    // reverse manifest walk again on every micro-batch
    val sch = schema.getOrElse(feedStreamSchema(spark, path))
    val dirs = publishedFeedVersions(spark, path)
      .filter(v => v > fromExclusive && v <= toInclusive)
      .map(v => s"$path/$FEED/commit_version=$v")
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch)
    else spark.read.schema(sch).option("basePath", s"$path/$FEED")
      .parquet(dirs: _*)
  }

  /** Column types the data-skipping stats cover: types whose internal
    * value is a number (ints, longs, doubles, date days, timestamp
    * micros) compare as BigDecimal, and STRINGS compare as unsigned
    * UTF-8 bytes on BOTH sides — parquet's footer min/max for a UTF8
    * column is byte-ordered, Spark's UTF8String binary collation is
    * byte-ordered, and the scan-side overlap test
    * ([[VersionedScan.stringIntervals]]) re-encodes the manifest
    * endpoints and the predicate literal to UTF-8 before comparing, so
    * Java's UTF-16 code-unit order (which disagrees beyond the BMP)
    * never participates. Long endpoints are truncated Delta-style
    * ([[truncateStringStats]]): min to a byte-bounded prefix, max to a
    * prefix with the last code point incremented — both sound widening,
    * never tightening. */
  private[sources] def statsSupported(t: DataType): Boolean = t match {
    case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.StringType => true
    case _ => false
  }

  /** Manifest string-stat endpoints are capped at this many UTF-8
    * bytes (Delta's stats truncation length) — ticker/code predicates
    * prune on short values; a long outlier widens instead of bloating
    * every manifest read. */
  private[graft] val statsMaxStringBytes = 32

  /** UTF-8 byte width of one code point. */
  private def utf8Width(cp: Int): Int =
    if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4

  /** Longest prefix of `s` whose UTF-8 encoding fits `statsMaxStringBytes`,
    * cut on a CODE-POINT boundary (a byte-level cut could split a
    * multi-byte sequence — the re-encode round trip through the JSON
    * manifest would corrupt it and the bound would silently tighten). */
  private def utf8Prefix(s: String): String = {
    val sb = new java.lang.StringBuilder
    var bytes = 0; var i = 0; var fits = true
    while (fits && i < s.length) {
      val cp = s.codePointAt(i)
      val w = utf8Width(cp)
      if (bytes + w > statsMaxStringBytes) fits = false
      else { sb.appendCodePoint(cp); bytes += w; i += Character.charCount(cp) }
    }
    sb.toString
  }

  /** Delta-style string stat truncation. min → a byte-bounded PREFIX
    * (a prefix precedes the value byte-wise, so it is a sound lower
    * bound); max → when over the cap, the prefix with its last code
    * point incremented (strictly greater than every string sharing the
    * prefix — a sound upper bound), carrying left past the surrogate
    * range and U+10FFFF. None when the max cannot be widened (a prefix
    * of all U+10FFFF) — the column is then dropped for the file, which
    * only costs pruning, never correctness. */
  private[graft] def truncateStringStats(mn: String,
      mx: String): Option[(String, String)] = {
    val outMin =
      if (mn.getBytes(java.nio.charset.StandardCharsets.UTF_8).length <=
        statsMaxStringBytes) mn
      else utf8Prefix(mn)
    if (mx.getBytes(java.nio.charset.StandardCharsets.UTF_8).length <=
      statsMaxStringBytes) Some((outMin, mx))
    else {
      val cps = utf8Prefix(mx).codePoints().toArray.toBuffer
      var widened: Option[String] = None
      while (widened.isEmpty && cps.nonEmpty) {
        val n = cps.last + 1
        val next =
          if (n >= 0xD800 && n <= 0xDFFF) Some(0xE000) // unencodable gap
          else if (n > 0x10FFFF) None // carry left
          else Some(n)
        next match {
          case Some(cp) =>
            cps(cps.length - 1) = cp
            widened = Some(new String(cps.toArray, 0, cps.length))
          case None => cps.remove(cps.length - 1)
        }
      }
      widened.map(w => (outMin, w))
    }
  }

  /** Comparable wrapper giving strings their UNSIGNED UTF-8 byte order
    * (= code-point order) inside the footer fold — java.lang.String's
    * natural order is UTF-16 code units, which disagrees beyond the
    * BMP and would mis-fold row-group endpoints. */
  private final case class U8(s: String) extends Comparable[U8] {
    override def compareTo(o: U8): Int = java.util.Arrays.compareUnsigned(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      o.s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    override def toString: String = s
  }

  /** Footer min/max of `cols` for ONE parquet file — the shared body
    * of [[collectFileStats]], callable from the driver fallback AND
    * from a distributed footer-read task (captures nothing beyond its
    * arguments). A column whose stats any row group omits is dropped
    * for that file (never-prune is the sound default); an all-null row
    * group contributes nothing but invalidates nothing; a NaN or
    * ±Infinity endpoint invalidates the double column for the file
    * (parquet NaN ordering is unreliable, and a non-finite toString
    * would fail the scan-side numeric parse). Values are encoded as
    * strings of the INTERNAL representation (days/micros/number). */
  private def footerStats(absPath: String,
      conf: org.apache.hadoop.conf.Configuration,
      cols: Seq[String]): Map[String, (String, String)] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new HPath(absPath), conf))
    try {
      // (min, max, valid) per column, folded across row groups
      val acc = scala.collection.mutable.HashMap[String, (Comparable[Any], Comparable[Any], Boolean)]()
      cols.foreach(c => acc(c) = (null, null, true))
      val blocks = reader.getFooter.getBlocks
      (0 until blocks.size()).foreach { bi =>
        val chunks = blocks.get(bi).getColumns
        (0 until chunks.size()).foreach { ci =>
          val ch = chunks.get(ci)
          val name = ch.getPath.toDotString
          if (acc.contains(name)) {
            val s = ch.getStatistics
            if (s == null || s.isEmpty)
              acc(name) = (null, null, false) // stats absent: unsound to prune
            else if (s.hasNonNullValue) {
              val (mn, mx, ok) = acc(name)
              if (ok) {
                // a Binary endpoint can only be a requested STRING
                // column (statsSupported admits no other binary type):
                // wrap in U8 so the fold compares UTF-8 bytes unsigned,
                // not String's UTF-16 code units
                def wrap(v: Any): Comparable[Any] = (v match {
                  case b: org.apache.parquet.io.api.Binary =>
                    U8(b.toStringUsingUTF8)
                  case c => c
                }).asInstanceOf[Comparable[Any]]
                val bMin = wrap(s.genericGetMin)
                val bMax = wrap(s.genericGetMax)
                val nonFinite = (v: Any) => v.isInstanceOf[java.lang.Double] &&
                  !java.lang.Double.isFinite(v.asInstanceOf[java.lang.Double])
                if (nonFinite(bMin) || nonFinite(bMax)) acc(name) = (null, null, false)
                else acc(name) = (
                  if (mn == null || bMin.compareTo(mn) < 0) bMin else mn,
                  if (mx == null || bMax.compareTo(mx) > 0) bMax else mx,
                  true)
              }
            }
          }
        }
      }
      acc.toSeq.flatMap {
        case (c, (mn, mx, true)) if mn != null && mx != null =>
          ((mn: Any, mx: Any)) match {
            case (a: U8, b: U8) => // string endpoints: truncate+widen
              truncateStringStats(a.s, b.s).map(c -> _)
            case _ => Some(c -> (mn.toString, mx.toString))
          }
        case _ => None
      }.toMap
    } finally reader.close()
  }

  /** File count at which stats collection moves off the driver: below
    * this a local loop beats a job\'s scheduling latency; above it the
    * footer reads run as ONE distributed job (Delta collects stats in
    * the write tasks for the same reason — at 100 TB a compaction
    * emitting thousands of chunk files would otherwise serialize
    * thousands of sequential footer RPCs on the driver, minutes on
    * object storage). */
  private[graft] val statsDriverMaxFiles = 16

  /** Per-file min/max of `cols` for every file under `dir`\'s kb=
    * partitions — the numbers the lakehouse formats persist at commit
    * time. Listing stays per-bucket on the driver (the same RPCs the
    * commit already pays for `staged`); the footer reads — the Θ(files)
    * term — run as one DISTRIBUTED job past [[statsDriverMaxFiles]],
    * so commit-time stats cost is flat in file count (measured:
    * study_r13.json `stats_commit_cost`). No data pages are read on
    * either path. */
  private def collectFileStats(spark: SparkSession,
      fs: FileSystem, root: HPath, dir: String,
      cols: Seq[String]): Map[String, Map[String, (String, String)]] = {
    if (cols.isEmpty) return Map.empty
    val files: Seq[(String, String)] = // (relative manifest key, absolute)
      listBuckets(fs, new HPath(root, dir)).flatMap { b =>
        val d = new HPath(root, s"$dir/$KB=$b")
        fs.listStatus(d).filter(s => s.isFile &&
            !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith(".")).toSeq.map(st =>
          (s"$dir/$KB=$b/${st.getPath.getName}", st.getPath.toString))
      }
    val stats: Seq[(String, Map[String, (String, String)])] =
      if (files.size <= statsDriverMaxFiles) {
        val conf = spark.sparkContext.hadoopConfiguration
        files.map { case (rel, abs) => rel -> footerStats(abs, conf, cols) }
      } else {
        val confB = spark.sparkContext.broadcast(
          new graft.util.SerializableHadoopConf(
            spark.sparkContext.hadoopConfiguration))
        val colsLocal = cols.toList // capture the list, not the frame
        spark.sparkContext
          .parallelize(files, math.min(files.size,
            spark.sparkContext.defaultParallelism))
          .map { case (rel, abs) =>
            rel -> footerStats(abs, confB.value.value, colsLocal)
          }
          .collect().toSeq
      }
    stats.filter(_._2.nonEmpty).toMap
  }

  /** MoR operational surface: the numbers the compaction-cadence
    * decision needs, manifest + file-listing only (no data read).
    * `live_layers` = delta dirs still referenced by any bucket,
    * `max_layers_per_bucket` = the deepest per-key resolution stack a
    * read pays, `delta_bytes` = total live delta payload. Operating
    * rule (measured, study_r10.json `mor_layers_sf01`): resolved-read
    * cost grows with the LAYER COUNT (per-layer scan + union + the
    * per-key argmax), not delta bytes — compact when
    * max_layers_per_bucket reaches ~8-16, or sooner if the delta key
    * set approaches broadcast-threshold size. Confirmed at 10× the
    * data (study_r11.json `mor_layers_sf1`): resolved reads scale
    * ~linearly with layers (0.63 s at 1 → 4.29 s at 16) while the
    * folded read stays flat (~0.1 s) as delta bytes grow 16× — the
    * rule is layer-count-driven at every scale measured. */
  def deltaStats(spark: SparkSession, path: String,
      asOf: Option[Long] = None): (Int, Int, Long) = {
    val sn = snapshot(spark, path, asOf)
    val live = sn.deltas.values.flatten.toSet
    // mirror resolved()'s membership filter: a delta dir also holds a
    // _cdc feed and kb= partitions for buckets that later commits folded
    // out of membership — only the kb=<still-live bucket> subdirs are
    // payload a read actually resolves, so only those count toward the
    // compaction-cadence signal. Bytes come from the MANIFEST (recorded
    // once by the committing writer), so the probe is one manifest read
    // — no per-(layer, bucket) listing RPCs; the FS fallback exists
    // only for pairs committed before deltaBytes was recorded
    lazy val fsRoot = fsOf(spark, path)
    val bytes = live.toSeq.map { d =>
      val liveBuckets = sn.deltas.collect {
        case (b, ds) if ds.contains(d) => b
      }
      liveBuckets.map { b =>
        sn.deltaBytes.getOrElse(s"$d/$KB=$b", {
          val (fs, root) = fsRoot
          val p = new HPath(root, s"$d/$KB=$b")
          if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
        })
      }.sum
    }.sum
    (live.size,
      if (sn.deltas.isEmpty) 0 else sn.deltas.values.map(_.size).max,
      bytes)
  }

  /** ROLL BACK to version `v` by committing a new version whose owner
    * map (and schema) are `v`'s — a pure manifest write, zero data
    * movement, because every dir `v` referenced is immutable and still
    * present while `v` is retained. O(1) rollback on a table of any
    * size; history is preserved (the bad versions stay readable for
    * forensics until vacuumed), exactly Delta's RESTORE semantics. */
  def restore(spark: SparkSession, path: String, v: Long): Long = {
    val target = snapshot(spark, path, Some(v))
    val cur = snapshot(spark, path, None)
    val nv = cur.version + 1
    val (fs, root) = fsOf(spark, path)
    // the TARGET's layout, not the current one: its owner dirs are
    // hashed with its bucket count — restoring across a rebucket must
    // restore the bucketing too, or lookups would prune wrong buckets
    // (and its delta layers, or a restore would silently fold them)
    // txn watermarks come from the CURRENT head, not the target: a
    // restore rolls back DATA, not the idempotent-writer ledger (the
    // Delta caveat, documented on merge — re-application after a
    // restore needs a fresh appId)
    writeManifest(fs, root, nv, target.numBuckets, target.keyCols,
      target.schema, target.owners, None, target.deltaDirs, target.deltas,
      cur.txns, target.fileStats, target.layout, target.deltaBytes)
    nv
  }

  /** Rewrite every live bucket into ONE new commit dir and commit the
    * result as a new version — the defrag counterpart of merge. After
    * N merges a snapshot reads N dirs' files (one file per touched
    * bucket per merge); compact returns that to one file per bucket
    * without changing content (asserted row-identical in
    * VersionedTableSpec). Earlier versions keep reading their old dirs
    * until vacuumed, so compaction is as non-disruptive as any other
    * commit. This is the whole-table generalization of v17's
    * small-file compaction PLANNING: here the rewrite actually runs,
    * under the same immutable-commit contract as merge.
    *
    * `clusterBy` sorts each bucket's rows on the named columns during
    * the rewrite (Delta's OPTIMIZE ... ZORDER slot — pass one
    * `ScaleOps.zorderKey2`-derived column for two-dimensional
    * clustering). Key-hash bucketing scatters non-key values across
    * buckets, so manifest-level stats can never prune on them — but
    * WITHIN a file, sorted row groups make the parquet reader's
    * min/max pushdown (free through `VersionedScan`'s production
    * reader) skip everything outside a predicate's range: the 100 TB
    * answer for range-selective non-key queries. Content-invariant
    * for any clusterBy (spec'd); the win itself is measured in
    * ZorderSpec's layout study. */
  /** `chunksPerBucket > 1` (requires `clusterBy`) splits each bucket
    * into ~that many RANGE-DISJOINT files (the in-task sort makes the
    * row-count splits contiguous in cluster order) and records each
    * file's clusterBy min/max in the manifest — the Delta
    * OPTIMIZE-ZORDER + per-file-stats shape. Hash bucketing scatters
    * non-key values, so with one file per bucket every file spans
    * ~the full value range and file-level stats can prune nothing;
    * range-chunking is what makes a range predicate read 1/chunks of
    * the files (measured: study_r12.json `data_skipping_sf01`), with
    * parquet row-group pushdown still applying inside each file. */
  def compact(spark: SparkSession, path: String,
      clusterBy: Seq[String] = Nil, chunksPerBucket: Int = 1,
      zorder: Boolean = false): Long =
    rewriteAll(spark, path, None, clusterBy, chunksPerBucket, zorder)

  /** RE-BUCKET the table to `newNumBuckets` — the migration for a
    * table that outgrew (or over-provisioned) its creation-time
    * bucket count, which is the knob scoping merge rewrite cost,
    * lookup fan-in, and per-bucket write parallelism. A full rewrite
    * commit under the same immutable contract as compact: earlier
    * versions keep their layout (and reads) until vacuumed, content
    * is unchanged (asserted row-identical in VersionedTableSpec), and
    * later merges must pass the NEW count — the old one fails loudly
    * at the existing bucketing-drift contract. This is deliberately
    * Θ(table): hash bucketing admits no incremental split that keeps
    * `key hash → one bucket` true for both counts at once (doubling
    * tricks pin you to powers of two and still rewrite half the
    * rows), so the honest operator is one planned rewrite, run like
    * any compaction window. */
  def rebucket(spark: SparkSession, path: String,
      newNumBuckets: Int): Long = {
    require(newNumBuckets > 0, "newNumBuckets must be positive")
    rewriteAll(spark, path, Some(newNumBuckets))
  }

  /** Shared full-rewrite commit: every live row into ONE new commit
    * dir, bucketed by `newB` (compact keeps the current count),
    * optionally sorted on `clusterBy` within each bucket. */
  private def rewriteAll(spark: SparkSession, path: String,
      newB: Option[Int], clusterBy: Seq[String] = Nil,
      chunksPerBucket: Int = 1, zorder: Boolean = false): Long = {
    require(chunksPerBucket >= 1, "chunksPerBucket must be >= 1")
    require(!zorder || (clusterBy.size >= 2 && clusterBy.size <= 8),
      "zorder needs 2-8 clusterBy columns (one column is a plain sort; " +
        "past 8 each dimension gets under 8 bits of the 63-bit key and " +
        "the tiling is too coarse to prune)")
    require(chunksPerBucket == 1 || clusterBy.nonEmpty,
      "chunksPerBucket > 1 needs clusterBy columns — unsorted chunks " +
        "would be range-overlapping and the stats could prune nothing")
    val sn = snapshot(spark, path, None)
    val b = newB.getOrElse(sn.numBuckets)
    val v = sn.version + 1
    val dir = f"d$v%08d_" + java.util.UUID.randomUUID().toString.take(8)
    val bucket = bucketOf(sn.keyCols, b)
    // the index path: a compaction of an N-commit table reads ONE scan
    // over all live files instead of N union branches; resolved() also
    // FOLDS any live MoR delta layers into the rewrite — compaction is
    // what returns a delta-carrying table to plain one-file-per-bucket
    // reads (the manifest below commits with EMPTY delta state)
    val cur = resolved(spark, path, sn, None)
    clusterBy.foreach(c => require(cur.columns.contains(c),
      s"clusterBy column '$c' not in table schema ${cur.columns.mkString(",")}"))
    val (fs, root) = fsOf(spark, path)
    // one file per bucket, same rationale as merge's pre-write shuffle;
    // KB leads the in-task sort so a task carrying several buckets
    // still writes each bucket's FILE fully clusterBy-sorted. With
    // chunking, maxRecordsPerFile splits each task's SORTED output at
    // a row count — contiguous in cluster order, so the chunks are
    // range-disjoint by construction (one count job sizes the split)
    // z-order: sort by the Morton interleave so row-count chunks tile
    // BOTH dimensions (each file = a z-range = bounded x AND y), while
    // stats stay on the ORIGINAL columns — the FileIndex prunes on
    // either predicate without knowing the sort key existed. The
    // interleave needs 16-bit inputs, so each column is QUANTIZED to
    // its rank in [0, 65535] via table min/max (one agg job, monotone
    // — raw low bits of a timestamp are noise and would z-shuffle the
    // sort into uselessness)
    if (zorder) clusterBy.foreach { c =>
      val t = cur.schema(c).dataType
      require(t != org.apache.spark.sql.types.StringType,
        s"zorder clusterBy column '$c' is a string — the Morton " +
          "interleave needs a numeric quantization; use lexicographic " +
          "clustering (zorder = false) for string columns")
    }
    val sortKeys: Seq[org.apache.spark.sql.Column] =
      if (!zorder) (KB +: clusterBy).map(col)
      else {
        def asNum(c: String): Column = cur.schema(c).dataType match {
          case org.apache.spark.sql.types.DateType =>
            datediff(col(c), lit("1970-01-01")).cast("double")
          case org.apache.spark.sql.types.TimestampType =>
            unix_micros(col(c)).cast("double")
          case org.apache.spark.sql.types.TimestampNTZType =>
            unix_micros(col(c).cast("timestamp")).cast("double")
          case _ => col(c).cast("double")
        }
        val nums = clusterBy.map(asNum)
        // ONE agg job covers every dimension's table min/max
        val mmAggs = nums.flatMap(n => Seq(min(n), max(n)))
        val mmRow = cur.agg(mmAggs.head, mmAggs.tail: _*).collect()(0)
        val maxQ = (1L << graft.ops.ScaleOps.zorderBits(nums.size)) - 1
        def quant(n: Column, loI: Int): Column = {
          val (lo, hi) =
            (if (mmRow.isNullAt(loI)) 0.0 else mmRow.getDouble(loI),
             if (mmRow.isNullAt(loI + 1)) 0.0 else mmRow.getDouble(loI + 1))
          if (hi <= lo) lit(0L)
          else least(lit(maxQ), greatest(lit(0L),
            floor((n - lo) / (hi - lo) * maxQ.toDouble).cast("long")))
        }
        Seq(col(KB), graft.ops.ScaleOps.zorderKeyN(
          nums.zipWithIndex.map { case (n, i) => quant(n, i * 2) }))
      }
    val writer = cur.withColumn(KB, bucket)
      .repartition(col(KB))
      .sortWithinPartitions(sortKeys: _*)
      .write.mode("error").partitionBy(KB)
    (if (chunksPerBucket > 1) {
      val rows = cur.count()
      writer.option("maxRecordsPerFile",
        math.max(1L, rows / (b.toLong * chunksPerBucket)))
    } else writer).parquet(s"$path/$dir")
    // data-skipping stats: footer min/max of the clusterBy columns for
    // every file just written — Θ(files) driver-side footer reads on
    // the files this commit created, never a table scan
    val fileStats =
      if (clusterBy.isEmpty) Map.empty[String, Map[String, (String, String)]]
      else collectFileStats(spark, fs, root, dir,
        clusterBy.filter(c => statsSupported(cur.schema(c).dataType)))
    // a layout rewrite changes no rows: commit an EMPTY materialized
    // feed so changes() across it stays on the batch-sized path
    // instead of falling back to a full two-sided rescan (every owner
    // changed)
    val dataCols = unionDataCols(sn.schema.fields, sn.keyCols, "at compact")
    val feedSchema = StructType(
      org.apache.spark.sql.types.StructField("change",
        org.apache.spark.sql.types.StringType) +:
      (sn.keyCols.map(k => sn.schema(k)) ++ dataCols.map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t) }))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], feedSchema)
      .write.mode("error").parquet(s"$path/$dir/_cdc")
    val staged = listBuckets(fs, new HPath(root, dir))
    // the layout DECLARATION: a clustered rewrite records its spec (so
    // auto-compaction re-applies it), a rebucket preserves the standing
    // declaration (its files are unchunked until the next compact, but
    // the intent survives), and an explicit plain compact() clears it
    val layout =
      if (clusterBy.nonEmpty) Some(Layout(clusterBy, chunksPerBucket, zorder))
      else if (newB.isDefined) sn.layout
      else None
    writeManifest(fs, root, v, b, sn.keyCols, cur.schema,
      staged.map(_ -> dir).toMap, Some((s"$dir/_cdc", feedSchema)),
      txns = sn.txns, fileStats = fileStats, layout = layout)
    try publishFeeds(spark, path)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(
        s"[VersionedTable] feed publication for $path deferred " +
          s"(version $v committed; next merge/publishFeeds heals): $e")
    }
    v
  }

  /** Drop all but the newest `retainLast` versions and delete every
    * data directory no retained manifest references; returns the
    * removed directory names. Manifests go first, then data — a crash
    * in between leaves unreferenced dirs that the next vacuum sweeps.
    * Retention must also cover WRITERS in flight, not just pinned
    * readers: a merge reads its base version's buckets, so a vacuum
    * that races ahead of it can delete files mid-scan — the merge
    * fails loudly and is safely retryable, but the operational rule is
    * the same as Delta's: retain at least as far back as the longest
    * running reader or writer.
    * A reader pinned to a vacuumed version fails loudly at `snapshot`
    * (and a long-lived DataFrame over vacuumed files fails at scan —
    * the standard time-travel retention trade, same as Delta VACUUM). */
  def vacuum(spark: SparkSession, path: String,
      retainLast: Int = 1): Seq[String] = {
    require(retainLast >= 1, "must retain at least the current version")
    val (fs, root) = fsOf(spark, path)
    val vs = versions(spark, path)
    val kept = vs.takeRight(retainLast)
    // a dir stays if a retained manifest points any bucket at it OR
    // hosts that manifest's materialized feed (a version whose buckets
    // were all overwritten later still owes its retained feed)
    val referenced = kept.flatMap { v =>
      val sn = snapshot(spark, path, Some(v))
      sn.owners.values.toSeq ++ sn.deltas.values.flatten ++
        sn.cdc.map(_._1.takeWhile(_ != '/')).toSeq
    }.toSet
    vs.dropRight(retainLast)
      .foreach(v => fs.delete(manifestPath(root, v), false))
    // orphan commit temps: a crash between writing `.tmp_<v>_*` and
    // linking/renaming it onto the manifest leaves the temp in _log/
    // forever (the writer's finally never ran). Safe to sweep when the
    // target manifest already exists (the link/rename happened or the
    // race was lost — either way the temp is dead) or when the temp is
    // older than an hour (no commit attempt lives that long; a live
    // writer's temp is milliseconds old).
    val tmpCutoff = System.currentTimeMillis() - 3600L * 1000
    fs.listStatus(new HPath(root, LOG)).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(".tmp_"))
      .filter { s =>
        val v = s.getPath.getName.stripPrefix(".tmp_")
          .takeWhile(_ != '_').toLongOption
        v.exists(vn => fs.exists(manifestPath(root, vn))) ||
          s.getModificationTime < tmpCutoff
      }
      .foreach(s => fs.delete(s.getPath, false))
    val removable = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName != LOG && s.getPath.getName != FEED)
      .map(_.getPath.getName)
      .filterNot(referenced)
    removable.foreach(d => fs.delete(new HPath(root, d), true))
    // published feeds of dropped versions go too, plus any stage dir
    // a crashed publisher abandoned
    val feedRoot = new HPath(root, FEED)
    if (fs.exists(feedRoot)) {
      val keptV = kept.toSet
      fs.listStatus(feedRoot).toSeq.foreach { s =>
        val n = s.getPath.getName
        val keep = n.startsWith("commit_version=") &&
          n.stripPrefix("commit_version=").toLongOption
            .exists(keptV.contains)
        if (!keep) fs.delete(s.getPath, true)
      }
    }
    removable.sorted
  }
}
