package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Hashing.h60
import graft.sources.Tables

/** Event-time operators (SURVEY.md §2.9): the streaming-shaped surface,
  * expressed batch-first over the bounded `events` table so the DuckDB
  * oracle can check values. `graft.streaming.EventStreams` reuses the
  * same transforms verbatim on an unbounded `readStream` input with
  * `withWatermark` — the transform functions below take a DataFrame, not
  * a path, precisely so both planes share one definition.
  *
  * Scale notes: tumbling/sliding/session aggregations shuffle once on
  * (bucket, key) / (user) — state per task is bounded by keys-per-task,
  * not rows. The as-of join avoids the classic per-probe lookup by the
  * union-then-carry-forward formulation: one shuffle on user_id, no
  * nested loop, no broadcast of the build side required.
  */
object Eventing extends QueryModule {

  // ---- shared transforms (batch + streaming planes) ----

  /** Tumbling 1-hour counts/sums per event type (flat schema out). */
  def tumbling(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding 1-hour window, 30-minute slide. */
  def sliding(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** Session windows with a 30-minute inactivity gap, per user. */
  def sessions(events: DataFrame): DataFrame =
    events.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  // ---- oracle-checked queries ----

  /** e01 — tumbling event-time aggregation (window()): the engine analog
    * of the reference's per-quarter bucketing (F11), generalized to
    * arbitrary time grains.
    */
  private def e01(s: SparkSession, d: String): DataFrame =
    tumbling(Tables.events(s, d)).orderBy(col("win_start"), col("event_type"))
  private val e01Sql =
    """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start, event_type,
         count(*) AS n, round(sum(value), 2) AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY win_start, event_type"""

  /** e02 — sliding window: every event contributes to the two 1-hour
    * windows (aligned to :00/:30) that contain it. The oracle reproduces
    * Spark's window-start enumeration with time_bucket arithmetic.
    */
  private def e02(s: SparkSession, d: String): DataFrame =
    sliding(Tables.events(s, d)).orderBy(col("win_start"), col("event_type"))
  private val e02Sql =
    """SELECT win_start, event_type, count(*) AS n FROM (
         SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS win_start, event_type FROM events
         UNION ALL
         SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, event_type FROM events
       ) GROUP BY 1, 2 ORDER BY win_start, event_type"""

  /** e03 — session windows (session_window): dynamic-length windows that
    * close after 30 min of inactivity; end = last event + gap. Oracle is
    * the gaps-and-islands formulation — the two must agree exactly.
    */
  private def e03(s: SparkSession, d: String): DataFrame =
    sessions(Tables.events(s, d)).orderBy(col("user_id"), col("session_start"))
  private val e03Sql =
    """SELECT min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         user_id, count(*) AS n_events, round(sum(value), 2) AS session_value
       FROM (
         SELECT *, sum(new_island) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         FROM (
           SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) > 30*60*1000000
                  OR lag(epoch_us(ts), 1) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_island
           FROM events))
       GROUP BY user_id, island ORDER BY user_id, session_start"""

  /** e04 — JSON property extraction (north-star: `events.props` is a
    * JSON string). get_json_object is codegen'd; no UDF.
    */
  private def e04(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // JSON parsing is the rare events consumer whose MAP-SIDE work
    // dominates: spread the scan so the parse isn't serialized on a
    // split-starved file (window/agg consumers shuffle immediately and
    // need no spread)
    Tables.spread(Tables.events(s, d))
      .withColumn("k", get_json_object($"props", "$.k").cast("int"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        round(avg($"k"), 4).as("avg_k"))
      .orderBy($"event_type")
  }
  private val e04Sql =
    """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
         round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** e05 — as-of join (point-in-time lookup): each purchase event gets
    * the value of the same user's most recent error at-or-before it.
    * Formulated shuffle-once: union both sides, carry the latest error
    * forward with a max-of-struct window (lexicographic on event time),
    * then keep the probe side. At equal timestamps the build (error) row
    * sorts first so `>=` semantics match DuckDB's ASOF JOIN oracle.
    */
  private def e05(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // thin instantiation of the PUBLIC operator (ops/TemporalJoins):
    // payload order (event_id, value) keeps the original tiebreak —
    // ties on ts resolve to the largest error event_id
    val ev = Tables.events(s, d)
    val probe = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"value", $"ts")
    val build = ev.filter($"event_type" === "error")
      .select($"user_id", $"ts", $"event_id", $"value")
    graft.ops.TemporalJoins.asofJoin(probe, build, Seq("user_id"),
        "ts", "ts", Seq("event_id", "value"))
      .select($"event_id", $"user_id", round($"value", 2).as("purchase_value"),
        $"asof_value".as("last_error_value"),
        $"asof_event_id".as("last_error_event"))
      .orderBy($"event_id")
  }
  private val e05Sql =
    """SELECT p.event_id, p.user_id, round(p.value, 2) AS purchase_value,
         e.value AS last_error_value, e.event_id AS last_error_event
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
         ON p.user_id = e.user_id AND p.ts >= e.ts
       ORDER BY p.event_id"""

  /** e06 — range (interval) join: follow-on events within 1 hour after
    * each signup of the same user. Equi-key on user_id carries the join;
    * the time range is a codegen residual — no cartesian product.
    */
  private def e06(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val signups = ev.filter($"event_type" === "signup")
      .select($"event_id".as("s_event_id"), $"user_id".as("s_user_id"), $"ts".as("s_ts"))
    val follow = ev.select($"event_id".as("f_event_id"), $"user_id".as("f_user_id"), $"ts".as("f_ts"))
    graft.ops.TemporalJoins.rangeJoin(signups, follow,
        Seq("s_user_id" -> "f_user_id"), "s_ts", "f_ts",
        expr("INTERVAL 0 HOUR"), expr("INTERVAL 1 HOUR"), "left")
      .groupBy($"s_event_id", $"s_user_id")
      .agg(count($"f_event_id").as("n_followups"))
      .orderBy($"s_event_id")
  }
  private val e06Sql =
    """SELECT s.event_id AS s_event_id, s.user_id AS s_user_id,
         count(f.event_id) AS n_followups
       FROM (SELECT * FROM events WHERE event_type = 'signup') s
       LEFT JOIN events f
         ON s.user_id = f.user_id AND f.ts > s.ts
         AND f.ts <= s.ts + INTERVAL 1 HOUR
       GROUP BY 1, 2 ORDER BY s_event_id"""

  /** e07 — MapType surface (SURVEY §1.2 note: engine adds map/array
    * types): props parsed to map<string,int>, entries exploded, per-key
    * aggregate. from_json + explode stay in codegen; no UDF.
    */
  private def e07(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select(explode(from_json($"props", org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.IntegerType))).as(Seq("key", "val")))
      .groupBy($"key")
      .agg(count(lit(1)).as("n"), sum($"val").as("sum_val"),
        min($"val").as("min_val"), max($"val").as("max_val"))
      .orderBy($"key")
  }
  private val e07Sql =
    """SELECT key, count(*) AS n, CAST(sum(val) AS BIGINT) AS sum_val,
         min(val) AS min_val, max(val) AS max_val
       FROM (
         SELECT key, CAST(json_extract_string(props, '$.' || key) AS INT) AS val
         FROM (SELECT unnest(json_keys(props)) AS key, props FROM events))
       GROUP BY key ORDER BY key"""

  /** e08 — histogram binning (width_bucket analog via floor division):
    * the value distribution per event type in 50-unit bins. */
  private def e08(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .withColumn("bin", floor($"value" / 50.0).cast("long"))
      .groupBy($"event_type", $"bin")
      .agg(count(lit(1)).as("n"), round(avg($"value"), 4).as("bin_avg"))
      .orderBy($"event_type", $"bin")
  }
  private val e08Sql =
    """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin,
         count(*) AS n, round(avg(value), 4) AS bin_avg
       FROM events GROUP BY 1, 2 ORDER BY event_type, bin"""

  /** e09 — deterministic hash-based sampling (the pipeline-subsetting
    * operator: unlike sample(), the md5 predicate is reproducible
    * across engines and runs — every row's fate is a pure function of
    * its key). Keeps ~10% of events.
    */
  private def e09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .filter(h60(concat(lit("smp:"), $"event_id")) % 10 === 0)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_sampled"), round(sum($"value"), 2).as("sum_sampled"))
      .orderBy($"event_type")
  }
  private val e09Sql =
    """SELECT event_type, count(*) AS n_sampled,
         round(sum(value), 2) AS sum_sampled
       FROM events
       WHERE CAST('0x' || substr(md5('smp:' || event_id), 1, 15) AS BIGINT) % 10 = 0
       GROUP BY event_type ORDER BY event_type"""

  /** e10 — funnel analysis: how many users progressed view → click →
    * purchase IN ORDER (each later stage strictly after the user's
    * first qualifying earlier stage). Three stage aggregates chained by
    * equi-joins, all keyed on user_id — one logical shuffle key, so the
    * three groupBys + two joins co-locate into the same partitioning at
    * scale (no re-shuffle between stages). `min(ts)`-then-filter is the
    * order-free formulation: no sort, no window over the event stream.
    */
  private def e10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val c = ev.filter($"event_type" === "click")
      .join(v, "user_id").filter($"ts" > $"t_view")
      .groupBy($"user_id").agg(min($"ts").as("t_click"))
    val p = ev.filter($"event_type" === "purchase")
      .join(c, "user_id").filter($"ts" > $"t_click")
      .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    // one declarative plan: three 1-row stage counts cross-joined (1-row
    // BNLJ broadcasts — whitelisted in PlanAuditSpec), no driver actions
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_full_funnel")))
      .select($"n_view", $"n_view_click", $"n_full_funnel",
        round($"n_view_click" / $"n_view", 6).as("click_rate"),
        round($"n_full_funnel" / $"n_view", 6).as("funnel_rate"))
  }
  private val e10Sql =
    """WITH v AS (
         SELECT user_id, min(ts) AS t_view FROM events
         WHERE event_type = 'view' GROUP BY user_id),
       c AS (
         SELECT e.user_id, min(e.ts) AS t_click
         FROM events e JOIN v ON e.user_id = v.user_id
         WHERE e.event_type = 'click' AND e.ts > v.t_view
         GROUP BY e.user_id),
       p AS (
         SELECT e.user_id, min(e.ts) AS t_purchase
         FROM events e JOIN c ON e.user_id = c.user_id
         WHERE e.event_type = 'purchase' AND e.ts > c.t_click
         GROUP BY e.user_id)
       SELECT (SELECT count(*) FROM v) AS n_view,
         (SELECT count(*) FROM c) AS n_view_click,
         (SELECT count(*) FROM p) AS n_full_funnel,
         round((SELECT count(*) FROM c) / CAST((SELECT count(*) FROM v) AS DOUBLE), 6) AS click_rate,
         round((SELECT count(*) FROM p) / CAST((SELECT count(*) FROM v) AS DOUBLE), 6) AS funnel_rate"""

  /** e11 — weekly retention cohorts: users grouped by the ISO week of
    * their first activity; each cell counts how many of a cohort's
    * users were active k weeks later (the product-analytics retention
    * matrix). Two aggregates over the deduped (user, week) activity
    * set, both keyed by user_id — the join reuses the groupBy's
    * partitioning, and the final cell aggregate moves one row per
    * (user, active-week), not per event.
    */
  private def e11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wk = Tables.events(s, d)
      .select($"user_id", date_trunc("week", $"ts").cast("date").as("wk"))
      .distinct()
    val cohort = wk.groupBy($"user_id").agg(min($"wk").as("cohort_week"))
    wk.join(cohort, "user_id")
      // week boundaries make the day gap an exact multiple of 7
      .withColumn("week_offset", (datediff($"wk", $"cohort_week") / 7).cast("long"))
      .groupBy($"cohort_week", $"week_offset")
      .agg(count(lit(1)).as("n_active"))
      .orderBy($"cohort_week", $"week_offset")
  }
  private val e11Sql =
    """WITH wk AS (
         SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
         FROM events),
       cohort AS (SELECT user_id, min(wk) AS cohort_week FROM wk GROUP BY user_id)
       SELECT cohort_week,
         CAST(date_diff('day', cohort_week, wk) / 7 AS BIGINT) AS week_offset,
         count(*) AS n_active
       FROM wk JOIN cohort USING (user_id)
       GROUP BY 1, 2 ORDER BY cohort_week, week_offset"""

  /** e12 — interval concurrency (sweep-line): every event opens a
    * 10-minute activity interval; the concurrency level is the running
    * sum of +1/-1 boundary points in global time order, reported as the
    * hourly maximum (the "how many things were live at once" question
    * behind capacity planning and sessionized load analysis). The
    * global running sum goes through ScaleOps.distributedPrefixSum —
    * range-partitioned two-pass, NOT a single-partition Window — so the
    * sweep scales like a sort, not like a serial scan. End-before-start
    * at equal timestamps (delta -1 < +1) is the standard closed-open
    * interval convention, mirrored in the oracle's ORDER BY. */
  private def e12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val pts = ev.select($"ts".as("t"), lit(1L).as("delta"), $"event_id")
      .unionAll(ev.select(($"ts" + expr("INTERVAL '600' SECOND")).as("t"),
        lit(-1L).as("delta"), $"event_id"))
    val lv = graft.ops.ScaleOps.distributedPrefixSum(
      pts, col("delta"), Seq(col("t"), col("delta"), col("event_id")), "level")
    lv.groupBy(date_trunc("hour", $"t").as("hour"))
      .agg(max($"level").as("max_concurrent"))
      .orderBy($"hour")
  }
  private val e12Sql =
    """WITH pts AS (
         SELECT ts AS t, 1 AS delta, event_id FROM events
         UNION ALL
         SELECT ts + INTERVAL 600 SECOND, -1, event_id FROM events),
       lv AS (
         SELECT t, sum(delta) OVER (ORDER BY t, delta, event_id
                                    ROWS UNBOUNDED PRECEDING) AS level
         FROM pts)
       SELECT date_trunc('hour', t) AS hour,
         CAST(max(level) AS BIGINT) AS max_concurrent
       FROM lv GROUP BY 1 ORDER BY hour"""

  private val streamRunId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The events table at `d` rewritten as ONE parquet file, a derived
    * artifact for the maxFilesPerTrigger=1 staging paths (e17/e24): every
    * copy/run links the same file, so the one-batch-per-copy staging
    * costs one normalization pass per input, not one per query. */
  private def coalescedEvents(s: SparkSession, d: String): String = {
    val side = graft.util.Scratch.derived(s, "evt1", d,
        Seq(Tables.path(d, "events"))) {
      Tables.events(s, d).coalesce(1).write.parquet(_)
    }
    new java.io.File(side).listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error("coalesced events write produced no parquet part"))
      .getAbsolutePath
  }

  /** e13 — the STREAMING plane under the driver's oracle: the exact
    * streaming transform (`EventStreams.tumblingStream` — watermarked
    * tumbling agg) executed as a real Structured Streaming job over the
    * events file source with `Trigger.AvailableNow`, collected through
    * a memory sink. Complete output mode makes the final table equal
    * the batch answer exactly, so e01's DuckDB oracle certifies the
    * streaming execution path end-to-end — not just a spec convergence
    * check. At production scale the same pipeline runs in append mode
    * with the watermark bounding state (see EventStreams); complete
    * here is what upgrades "converges modulo unclosed tail windows"
    * to a total equality the hash gate can check.
    */
  /** Link a source TABLE into a file-stream staging dir under `name`.
    * The driver testdata ships each table as a bare parquet FILE;
    * Spark-written derivations (the sf1 scale corpus) are DIRECTORIES
    * of part files. FileStreamSource does not enumerate through a
    * symlinked subdirectory — a directory staged as one link streams
    * ZERO files, and silently: the query "succeeds" over an empty
    * source (caught when e23's read-back found no Derby table at sf1,
    * i.e. zero micro-batches had run). So a directory table is staged
    * as one link per part file; mtime order is the TARGET file's (the
    * source follows links), which predates any heartbeat's explicit
    * future mtime. Symlinks keep staging zero-copy; plain copy is the
    * cross-filesystem fallback. */
  private def stageLinks(stage: java.nio.file.Path, src: java.nio.file.Path,
      name: String): Unit = {
    def link(target: java.nio.file.Path, from: java.nio.file.Path): Unit =
      try java.nio.file.Files.createSymbolicLink(target, from)
      catch { case _: Exception => java.nio.file.Files.copy(from, target) }
    if (java.nio.file.Files.isDirectory(src)) {
      val parts = Option(src.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
      require(parts.nonEmpty, s"no parquet part files under $src")
      parts.zipWithIndex.foreach { case (p, i) =>
        link(stage.resolve(f"${name}_part$i%04d.parquet"), p.toPath)
      }
    } else link(stage.resolve(s"$name.parquet"), src)
  }

  /** Run a streaming transform over the events table as a REAL
    * Structured Streaming job (file source, AvailableNow trigger,
    * memory sink) and return the sink table. Shared by e13/e14. */
  private def runStreamed(s: SparkSession, d: String, prefix: String,
      mode: String, copies: Int = 1, sentinel: Boolean = false,
      lateSplit: Boolean = false, oneFilePerTrigger: Boolean = false)(
      xf: DataFrame => DataFrame): DataFrame = {
    val name = s"${prefix}_mem_${streamRunId.incrementAndGet()}"
    val ckpt = graft.util.Scratch.ckptDir(prefix)
    // file stream source needs an explicit schema; reuse the batch
    // footer's (ts arrives as nanos-long, normalized the same way as
    // Tables.events) — except under lateSplit and the coalesced
    // maxFilesPerTrigger=1 paths, which restage the rows through Spark
    // and therefore read back the NORMALIZED layout
    val schema =
      if (lateSplit || sentinel || oneFilePerTrigger)
        graft.sources.Tables.events(s, d).schema
      else s.read.parquet(s"$d/events.parquet").schema
    // the file stream source requires a DIRECTORY; the test table is a
    // bare file, so expose it through a linked staging dir (symlink —
    // zero-copy; plain copy as the cross-filesystem fallback). In
    // production the source would already be a directory of files.
    val stage = java.nio.file.Files.createTempDirectory(s"graft_${prefix}_src")
    val src = java.nio.file.Paths.get(s"$d/events.parquet")
    if (lateSplit) {
      // LATE-ARRIVAL staging: the table is split into an on-time file
      // and a day-long slice (15-16 days before the corpus max) that
      // arrives one micro-batch AFTER it — the "delayed upstream
      // partition replayed hours later" incident. By the time the late
      // file arrives, batch 1 has advanced the watermark to max - 2h,
      // which is days past every late row's window, so the watermark
      // must drop all of them — e21's oracle is the batch aggregate
      // WITHOUT the late slice. Explicit mtimes order the two files
      // under FileStreamSource's mtime-sorted, maxFilesPerTrigger=1
      // delivery (same mechanism as the sentinel heartbeats below).
      val ev = graft.sources.Tables.events(s, d)
      val m = ev.agg(max(col("ts")).as("m")).collect()(0).getTimestamp(0)
      val lateLo = java.sql.Timestamp.from(m.toInstant.minusSeconds(16L * 86400))
      val lateHi = java.sql.Timestamp.from(m.toInstant.minusSeconds(15L * 86400))
      val isLate = col("ts") >= lit(lateLo) && col("ts") < lit(lateHi)
      // the EMPTY spacer batch is load-bearing: since SPARK-39931 a
      // micro-batch filters late input with the PREVIOUS batch's
      // watermark (eventTimeWatermarkForLateEvents) and evicts with the
      // current one — a late file landing in the very next batch after
      // the data that advanced the watermark is still admitted
      // (measured: without the spacer, every "late" row merged and the
      // result equaled the no-drop aggregate). One empty file between
      // them rolls the advanced watermark into the late-filter role, so
      // the replayed slice genuinely tests the drop path.
      Seq(("aa_ontime", ev.filter(!isLate), 0L),
          ("ab_gap", ev.filter(lit(false)), 5000L),
          ("ac_late", ev.filter(isLate), 10000L)).foreach {
        case (fname, df, mtimeOff) =>
          val side = java.nio.file.Files.createTempDirectory(s"graft_${prefix}_split")
          df.coalesce(1).write.mode("overwrite").parquet(side.toString)
          val part = side.toFile.listFiles()
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(sys.error("late-split write produced no parquet part"))
          val target = stage.resolve(s"$fname.parquet")
          java.nio.file.Files.move(part.toPath, target)
          java.nio.file.Files.setLastModifiedTime(target,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis() + mtimeOff))
          graft.util.Scratch.deleteRecursively(side.toFile)
      }
    } else if (sentinel || oneFilePerTrigger) {
      // the maxFilesPerTrigger=1 paths pay a full state-store lifecycle
      // per staged FILE: at sf1 the events table is a directory of ~32
      // part files, so per-part staging turned a 3-batch certification
      // into ~34 micro-batches of pure per-batch overhead (measured:
      // e17 31 s wall on 6.8 s CPU). Stage each copy as ONE coalesced
      // file — written once per (JVM, input dir), linked per copy — so
      // the stream runs one data batch per copy plus the heartbeat
      // batches. The coalesce is harness STAGING, not the query plan:
      // production streams read whatever file sizing the upstream
      // writer chose, and maxFilesPerTrigger=1 exists here only to
      // sequence the heartbeat/copy batches. Copy order between equal
      // mtimes is immaterial (identical content); all data mtimes
      // predate the heartbeats' explicit +1h.
      val one = java.nio.file.Paths.get(coalescedEvents(s, d))
      (1 to copies).foreach { i =>
        val t = stage.resolve(s"events_$i.parquet")
        try java.nio.file.Files.createSymbolicLink(t, one)
        catch { case _: Exception => java.nio.file.Files.copy(one, t) }
      }
    } else
    // copies > 1 stages the SAME table under several file names — the
    // stream then genuinely delivers every row that many times, which
    // is how e16 feeds real duplicates to the dedup operator
    (1 to copies).foreach { i => stageLinks(stage, src, s"events_$i") }
    // watermark-gated output (outer-join nulls, final windows) only
    // emits once event time provably passes it; a bounded file source
    // ends before that proof exists for the tail. Stage far-future
    // HEARTBEAT rows — the streaming analog of the punctuation events
    // production pipelines inject to close quiet partitions. Three
    // hard-won mechanics:
    //  1. heartbeats must survive the transform's type filters, because
    //     Catalyst pushes those filters below the EventTimeWatermark
    //     node into the scan — a row of an unmatched type is pruned
    //     before event-time tracking ever sees it (measured: watermark
    //     stuck at the real-data max). So each heartbeat file carries
    //     one row PER FILTERED TYPE, with negative user_ids no real row
    //     can join (consumers drop negative ids from the output);
    //  2. each heartbeat is its own file and maxFilesPerTrigger=1 makes
    //     it its own micro-batch: the watermark only advances AFTER the
    //     batch that read it;
    //  3. there are TWO heartbeat batches, because AvailableNow stops
    //     without a final no-data batch — #1 advances the watermark,
    //     #2's batch is where the now-provably-unmatched state flushes
    //     (with one, the last hour's rows stayed stuck in state).
    if (sentinel) {
      import org.apache.spark.sql.Row
      (0 to 1).foreach { i =>
        val rows = Seq("purchase" -> (-101L - 2 * i), "signup" -> (-102L - 2 * i))
          .map { case (tpe, uid) =>
            Row.fromSeq(schema.fields.map { f =>
              (f.name, f.dataType) match {
                // 2100-01-01 (+1 day per heartbeat) in whichever physical
                // type this testdata generation gives ts (see
                // Tables.normalizeTs): raw nanos for the legacy
                // TIMESTAMP(NANOS) layout, LocalDateTime for native
                // micros read as TIMESTAMP_NTZ
                case ("ts", org.apache.spark.sql.types.LongType) =>
                  4102444800000000000L + i * 86400000000000L
                case ("ts", org.apache.spark.sql.types.TimestampNTZType) =>
                  java.time.LocalDateTime.of(2100, 1, 1 + i, 0, 0)
                case ("ts", _) =>
                  java.time.Instant.parse(f"2100-01-0${1 + i}T00:00:00Z")
                case ("event_id", _) => uid
                case ("user_id", _) => uid
                case ("event_type", _) => tpe
                case (_, org.apache.spark.sql.types.LongType) => -1L
                case (_, org.apache.spark.sql.types.DoubleType) => 0.0
                case _ => null
              }
            }.toSeq)
          }
        // write to a side dir, then surface ONE named heartbeat file
        // with an explicitly FAR-FUTURE mtime: FileStreamSource orders
        // files by modification time, and the symlink staging can fall
        // back to Files.copy whose mtimes land within the same tick as
        // the heartbeats' — if a heartbeat batch ran first, the
        // watermark would jump to 2100 and every real row would drop
        // as late. Explicit mtimes make the data-then-heartbeat order
        // a property of the files, not of the staging path taken.
        val side = java.nio.file.Files.createTempDirectory(s"graft_${prefix}_hb")
        s.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
          .coalesce(1).write.mode("overwrite").parquet(side.toString)
        val parquetPart = side.toFile.listFiles()
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error("heartbeat write produced no parquet part"))
        val target = stage.resolve(s"zz_heartbeat_$i.parquet")
        java.nio.file.Files.move(parquetPart.toPath, target)
        // fixed +1h plus i seconds, NOT +(i+1) hours: FileStreamSource
        // drops files older than latestSeenTimestamp - maxFileAge, so a
        // per-heartbeat hour offset would push the real data files out
        // of the age window if the heartbeat count ever grew — cap the
        // future skew at one hour regardless of i (order between
        // heartbeats comes from the seconds term)
        java.nio.file.Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() + 3600_000L + (i + 1) * 1000L))
        // the side dir held the moved part file + commit markers, and
        // the committer may leave a _temporary SUBDIR — delete
        // recursively (best-effort) so a leftover subdir doesn't throw
        // DirectoryNotEmptyException and fail the query
        graft.util.Scratch.deleteRecursively(side.toFile)
      }
    }
    // the job runs on an ISOLATED session (own SQLConf, shared context
    // and cache): sizing shuffle.partitions for the bounded stream must
    // not leak into batch queries planned concurrently on the shared
    // session (sbt runs suites in parallel), and with per-run isolation
    // no set/restore locking is needed at all.
    val ns = s.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", "8")
    // RocksDB state store for every stateful stream — the measured
    // production rule (BASELINE.md state-store study: identical
    // results, flat per-batch cost vs heap's 1.5x wall and 8x memory
    // at ~1M state rows; a wash at toy scale). State must never be
    // bounded by executor heap, so the default here is the provider
    // that holds at 100 TB.
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // changelog checkpointing: per batch, persist the key-value
    // CHANGELOG instead of snapshotting the store's sst files — the
    // modern RocksDB checkpoint mode (recovery replays changelogs onto
    // periodic snapshots). Recovery-format choice, not semantics; it
    // removes most of the per-micro-batch checkpoint file churn these
    // bounded certification runs pay per store lifecycle.
    ns.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    // maxFileAge pinned explicitly: the sentinel heartbeats carry
    // future mtimes, and the default 7-day window is measured from the
    // LATEST seen timestamp — make the age window a stated property of
    // the harness rather than an interaction of default and skew
    val streamRead = ns.readStream.schema(schema)
    val stream = (if (sentinel || oneFilePerTrigger)
                    streamRead.option("maxFilesPerTrigger", 1)
                      .option("maxFileAge", "30d")
                  else streamRead).parquet(stage.toString)
      .transform(graft.sources.Tables.normalizeTs)
    // per-microbatch fixed cost is dominated by STATE STORE instances:
    // one per shuffle partition per stateful operator per batch (an
    // outer join runs 4 stores/partition; at 32 partitions x 3 batches
    // that's 384 store lifecycles for a bounded test table — measured
    // 22 s -> 4.5 s by sizing down). This harness certifies semantics
    // over a bounded file, so it sizes state to that volume; a
    // production deployment sizes shuffle.partitions to the cluster,
    // where the same per-store cost is amortized over real data.
    val q = xf(stream)
      .writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // memory-sink tables register in the session that ran the query
    ns.table(name)
  }

  private def e13(s: SparkSession, d: String): DataFrame =
    runStreamed(s, d, "e13", "complete")(
      graft.streaming.EventStreams.tumblingStream)
      .orderBy(col("win_start"), col("event_type"))

  /** e14 — stream-STREAM join under the driver's oracle: purchases
    * attributed to the same user's signup within the preceding hour
    * (`EventStreams.purchaseAttribution`), both sides watermarked, run
    * as a real streaming self-join in APPEND mode. Unlike aggregations
    * (e13's complete-mode crutch), an inner time-interval join emits a
    * row the moment both sides have arrived — nothing waits on a
    * watermark close — so the append-mode sink holds the exact batch
    * answer and the DuckDB oracle certifies the stateful join path
    * end-to-end, including the state-eviction time bound.
    */
  private def e14(s: SparkSession, d: String): DataFrame =
    runStreamed(s, d, "e14", "append")(
      graft.streaming.EventStreams.purchaseAttribution)
      .orderBy(col("p_id"), col("s_id"))

  private val e14Sql =
    """SELECT p.event_id AS p_id, p.user_id AS p_user,
         round(p.value, 2) AS p_value, s.event_id AS s_id
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       JOIN (SELECT * FROM events WHERE event_type = 'signup') s
         ON s.user_id = p.user_id
        AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 1 HOUR
       ORDER BY p_id, s_id"""

  /** e15 — SESSION WINDOWS on the streaming plane under the oracle:
    * `EventStreams.sessionStream` (session_window + watermark) as a
    * real streaming job. Session state is the hardest streaming-agg
    * case — windows MERGE as late events bridge gaps — so certifying
    * the final table against e03's gaps-and-islands oracle exercises
    * the merging session store, not just fixed windows. Complete mode
    * for the same reason as e13: the final table equals the batch
    * answer including the tail sessions a watermark close would hold
    * back under append.
    */
  private def e15(s: SparkSession, d: String): DataFrame =
    runStreamed(s, d, "e15", "complete")(
      graft.streaming.EventStreams.sessionStream)
      .orderBy(col("user_id"), col("session_start"))

  /** e16 — WATERMARKED STREAM DEDUP under the oracle: the events table
    * staged TWICE behind the file source, so every row genuinely
    * arrives as a duplicate; `EventStreams.dedupStream`
    * (`dropDuplicatesWithinWatermark` on event_id, 1-hour horizon)
    * must collapse each pair back to one row. Append mode — dedup
    * emits the first occurrence immediately; the oracle is simply the
    * distinct source table, so a hash match certifies the stateful
    * dedup store end-to-end (the exactly-once ingest contract at the
    * storage boundary, the streaming face of `ext.Dedup`/q13's
    * ingest de-dup). State: one entry per id inside the watermark
    * horizon — bounded, unlike plain dropDuplicates on a stream.
    */
  private def e16(s: SparkSession, d: String): DataFrame =
    runStreamed(s, d, "e16", "append", copies = 2)(
      graft.streaming.EventStreams.dedupStream)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 2).as("value"))
      .orderBy(col("event_id"))

  private val e16Sql =
    """SELECT event_id, user_id, event_type, round(value, 2) AS value
       FROM events ORDER BY event_id"""

  /** e17 — stream-stream LEFT OUTER join under the oracle: the outer
    * face of e14. Outer rows are the hard part — they only emit when
    * the watermark PROVES no signup can still arrive for a purchase —
    * so the run stages a far-future heartbeat file (see runStreamed)
    * to drive the watermark past the tail, exactly as a production
    * pipeline closes quiet partitions with punctuation events. The
    * DuckDB LEFT JOIN oracle then certifies both planes: matched rows
    * through the join state, null-extended rows through state
    * expiry + eviction.
    */
  private def e17(s: SparkSession, d: String): DataFrame =
    runStreamed(s, d, "e17", "append", sentinel = true)(
      graft.streaming.EventStreams.purchaseAttributionOuter)
      .filter(col("p_id") >= 0) // drop heartbeat rows (negative ids)
      .orderBy(col("p_id"), col("s_id"))

  private val e17Sql =
    """SELECT p.event_id AS p_id, p.user_id AS p_user,
         round(p.value, 2) AS p_value, s.event_id AS s_id
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
         ON s.user_id = p.user_id
        AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 1 HOUR
       ORDER BY p_id, s_id"""

  /** e18 — first-order Markov transition matrix over per-user event
    * sequences (the sequence statistic behind session modeling and
    * next-action prediction): for each ordered pair of consecutive
    * event types within a user's timeline, the transition count and
    * row-normalized probability. One shuffle on user_id for the lag,
    * then a tiny (|types|^2) aggregate — the per-user ordering never
    * leaves its partition, so at 100 TB this costs exactly one
    * exchange of (user, ts, type) triples.
    */
  private def e18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val tr = Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("src", lag($"event_type", 1).over(w))
      .filter($"src".isNotNull)
      .groupBy($"src", $"event_type".as("dst"))
      .agg(count(lit(1)).as("n"))
    val byRow = Window.partitionBy($"src")
    tr.withColumn("p", round($"n" / sum($"n").over(byRow), 6))
      .orderBy($"src", $"dst")
  }

  private val e18Sql =
    """WITH tr AS (
         SELECT src, event_type AS dst, count(*) AS n
         FROM (SELECT event_type,
                 lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
               FROM events)
         WHERE src IS NOT NULL GROUP BY 1, 2)
       SELECT src, dst, n,
         round(n / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE), 6) AS p
       FROM tr ORDER BY src, dst"""

  /** e19 — windowed TRENDING top-k: the 3 most frequent event types per
    * hour with their counts and rank — the "what's hot right now"
    * rollup behind dashboards and alerting. One shuffle for the
    * (hour, type) aggregate; the ranking window partitions by hour over
    * POST-AGGREGATE rows (≤ |types| per hour), so the sort that would
    * be a scale hazard over raw events is a no-op over the rollup.
    */
  private def e19(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, d)
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"hour").orderBy($"n".desc, $"event_type")
    hourly.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"hour", $"rank", $"event_type", $"n")
      .orderBy($"hour", $"rank")
  }
  private val e19Sql =
    """SELECT hour, rank, event_type, n FROM (
         SELECT hour, event_type, n,
           row_number() OVER (PARTITION BY hour ORDER BY n DESC, event_type) AS rank
         FROM (SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
               FROM events GROUP BY 1, 2))
       WHERE rank <= 3 ORDER BY hour, rank"""

  /** e20 — ONLINE near-dup detection under the gate: the documents
    * table replayed as a file stream through
    * `EventStreams.nearDupStream` (per-band-bucket signature state on
    * flatMapGroupsWithState, first-agreeing-band exactly-once
    * emission), certified against the BATCH d06 oracle — the online
    * operator must find exactly the pairs the offline pipeline finds,
    * pair-for-pair and hash-for-hash. This is the ingest-time dedup
    * gate of a production corpus: a document is checked against every
    * band-matching signature already seen, the moment it arrives. */
  private def e20(s: SparkSession, d: String): DataFrame = {
    val name = s"e20_mem_${streamRunId.incrementAndGet()}"
    val ckpt = graft.util.Scratch.ckptDir("e20")
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val stage = java.nio.file.Files.createTempDirectory("graft_e20_src")
    val src = java.nio.file.Paths.get(s"$d/documents.parquet")
    stageLinks(stage, src, "documents_1")
    // isolated session: state-store count scales with shuffle
    // partitions (runStreamed's sizing note applies)
    val ns = s.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", "8")
    // RocksDB provider, same rationale as runStreamed: the band-bucket
    // signature state GROWS with the corpus — exactly the state shape
    // the heap store caps
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // changelog checkpointing — same rationale as runStreamed's
    ns.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    // split-starved scan, streaming face: the staged single-row-group
    // file reads as ONE task and Tables.spread can't probe a streaming
    // plan — one cheap round-robin shuffle of the raw (doc_id, text)
    // rows spreads the per-doc shingle+minhash compute across cores
    // before the stateful stage's own exchange (measured 10.7 s -> ~4 s
    // at sf0.1)
    val stream = ns.readStream.schema(schema).parquet(stage.toString)
      .repartition(s.sparkContext.defaultParallelism)
    val sigs = graft.ext.Dedup.docSignatures(stream,
      col("doc_id"), col("text"))
    val q = graft.streaming.EventStreams.nearDupStream(sigs, 0.6)
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ns.table(name).orderBy(col("doc_a"), col("doc_b"))
  }

  /** e21 — WATERMARK LATE-DATA SEMANTICS under the oracle: the events
    * table split so a full day-long slice (15-16 days before the corpus
    * max) arrives one micro-batch AFTER everything else — the classic
    * "delayed upstream partition finally replayed" incident. Batch 1
    * advances the watermark to max - 2h; the replayed slice is days
    * behind it, so the tumbling aggregation must DROP every late row
    * (never resurrect closed windows) while the on-time rows aggregate
    * normally. Append mode with sentinel heartbeats to flush the tail
    * windows; the DuckDB oracle is the batch aggregate WITHOUT the late
    * slice — a hash match certifies both planes of the watermark
    * contract: on-time completeness and late-data rejection. This is
    * the semantic e13 (complete mode, nothing droppable) cannot see. */
  private def e21(s: SparkSession, d: String): DataFrame =
    runStreamed(s, d, "e21", "append", sentinel = true, lateSplit = true)(
      graft.streaming.EventStreams.tumblingStream)
      // heartbeat windows live in 2100; real windows end by 2024 —
      // the year guard drops only sentinel output
      .filter(col("win_start") < lit("2099-01-01").cast("timestamp"))
      .orderBy(col("win_start"), col("event_type"))

  private val e21Sql =
    """WITH mx AS (SELECT max(ts) AS m FROM events)
       SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start, event_type,
         count(*) AS n, round(sum(value), 2) AS sum_value
       FROM events, mx
       WHERE NOT (ts >= m - INTERVAL 16 DAY AND ts < m - INTERVAL 15 DAY)
       GROUP BY 1, 2 ORDER BY win_start, event_type"""

  /** e22 — STREAM-STATIC ENRICHMENT under the oracle: the unbounded
    * event stream joined per-micro-batch to a bounded user→tier
    * dimension (`EventStreams.enrichedTierCounts` — the broadcast
    * rides along each batch, no stream-side state for the join), then
    * hourly tier rollups. The dimension derives deterministically from
    * the corpus (tier = user_id mod 3), so the DuckDB oracle replays
    * the same enrichment relationally. Complete mode for the same
    * reason as e13. This was the one streaming public surface whose
    * certification was spec-only; now the enrich-at-ingest shape —
    * THE standard dimension join at 100 TB/day — sits under the gate. */
  private def e22(s: SparkSession, d: String): DataFrame = {
    val tiers = Tables.events(s, d).select(col("user_id")).distinct()
      .withColumn("tier", concat(lit("T"), (col("user_id") % 3).cast("string")))
    runStreamed(s, d, "e22", "complete")(
      ev => graft.streaming.EventStreams.enrichedTierCounts(ev, tiers))
      .orderBy(col("window_start"), col("tier"))
  }
  private val e22Sql =
    """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
         'T' || CAST(user_id % 3 AS VARCHAR) AS tier,
         count(*) AS n_events, round(sum(value), 2) AS tier_value
       FROM events GROUP BY 1, 2 ORDER BY window_start, tier"""

  /** e23 — streaming → RDBMS SERVING LAYER under the oracle: the
    * events stream aggregated per type in complete mode and served
    * through `EventStreams.jdbcUpsertSink` (foreachBatch + key-scoped
    * delete-then-insert) into an embedded Derby table — the
    * reference's MySQL serving pattern (mainTesting.py:49-79), fed by
    * a stream instead of per upload. The query RESULT is the table
    * read back over JDBC, so the DuckDB gate certifies the entire
    * path: stream → stateful agg → idempotent upsert → relational
    * store → read-back. At-least-once foreachBatch + per-key
    * replacement composes to exactly-once per key (StreamingSpec
    * replays a batch to prove it); here the gate proves the VALUES
    * that land. The in-memory Derby instance is per-invocation
    * (run-id-suffixed) and lives until JVM exit — serving-table-sized,
    * not corpus-sized. */
  private def e23(s: SparkSession, d: String): DataFrame = {
    val runId = streamRunId.incrementAndGet()
    val url = s"jdbc:derby:memory:graft_e23_$runId;create=true"
    val table = "tier_totals"
    val ckpt = graft.util.Scratch.ckptDir("e23")
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val stage = java.nio.file.Files.createTempDirectory("graft_e23_src")
    val src = java.nio.file.Paths.get(s"$d/events.parquet")
    stageLinks(stage, src, "events_1")
    val ns = s.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", "8")
    val stream = ns.readStream.schema(schema).parquet(stage.toString)
      .transform(graft.sources.Tables.normalizeTs)
    val agg = stream.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    val q = graft.streaming.EventStreams
      .jdbcUpsertSink(agg, url, table, Seq("event_type"))
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.jdbc(url, table, new java.util.Properties)
      .select(col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("event_type"))
  }
  private val e23Sql =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
       FROM events GROUP BY 1 ORDER BY event_type"""

  /** e24 — UPDATE output mode under the oracle: the third output mode,
    * certified through its defining behavior — a group emits EVERY
    * micro-batch it changes in, not once at watermark close (append)
    * nor the whole table each batch (complete). The source is staged
    * as one file per micro-batch (copies=2 of the table via
    * maxFilesPerTrigger=1 — two batches, so every group updates
    * twice), and the memory sink accumulates ALL partial emissions.
    * Counts are monotone, so the LAST emission per group equals its
    * MAX — the max-fold over the sink must equal the batch aggregate
    * over the doubled input, which is exactly what the oracle checks.
    * A sink that missed an update, or an engine that re-emitted stale
    * state, breaks the fold. */
  private def e24(s: SparkSession, d: String): DataFrame =
    runStreamed(s, d, "e24", "update", copies = 2, oneFilePerTrigger = true)(ev =>
      ev.withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n")))
      .groupBy(col("win_start"), col("event_type"))
      .agg(max(col("n")).as("n"))
      .orderBy(col("win_start"), col("event_type"))

  private val e24Sql =
    """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start, event_type,
         2 * count(*) AS n
       FROM events GROUP BY 1, 2 ORDER BY win_start, event_type"""

  /** e25 — ONLINE ANOMALY DETECTION under the oracle: the per-user
    * rolling z-score state machine (`EventStreams.zscoreStream`,
    * w16's streaming face) run as a real flatMapGroupsWithState job
    * over the events file source. The DuckDB oracle is the batch
    * window formulation (8-PRECEDING-to-1-PRECEDING frame per user in
    * exact cent arithmetic) — a hash match certifies that the
    * streaming state walk reproduces the batch window semantics score
    * for score, the property an online detector exists to hold. */
  private def e25(s: SparkSession, d: String): DataFrame =
    runStreamed(s, d, "e25", "append")(
      graft.streaming.EventStreams.zscoreStream)
      .select(col("user_id"), col("event_id"), col("cents"),
        col("n_prior"), round(col("z"), 6).as("z"), col("is_anomaly"))
      .orderBy(col("user_id"), col("event_id"))

  private val e25Sql =
    """WITH e AS (
         SELECT user_id, event_id, ts,
           CAST(round(value * 100) AS BIGINT) AS cents
         FROM events),
       m AS (
         SELECT user_id, event_id, cents,
           count(cents) OVER w AS n,
           CAST(sum(cents) OVER w AS BIGINT) AS s1,
           CAST(sum(cents * cents) OVER w AS BIGINT) AS s2
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
       scored AS (
         SELECT user_id, event_id, cents, n AS n_prior,
           CAST(n * cents - s1 AS DOUBLE)
             / sqrt(CAST(n * (n * s2 - s1 * s1) AS DOUBLE)) AS z
         FROM m WHERE n >= 4 AND n * s2 > s1 * s1)
       SELECT user_id, event_id, cents, n_prior, round(z, 6) AS z,
         abs(z) > 2.0 AS is_anomaly
       FROM scored ORDER BY user_id, event_id"""

  /** e26 — streaming CDC MERGE into the versioned table: the events
    * table staged as three CHRONOLOGICAL slices (days 1-10 / 11-20 /
    * 21+ of the corpus month, ascending mtimes, one micro-batch each),
    * and every micro-batch foreachBatch-merges its per-user LAST event
    * (argmax by ts then event_id — the v03 struct-max shape) into a
    * `VersionedTable`, tombstoning users whose latest event is an
    * `error`. This is the standard production shape for maintaining a
    * serving table from an event log — readStream → foreachBatch →
    * MERGE — and the output is the FINAL DURABLE TABLE read back, so
    * the oracle (global per-user argmax over the batch table, errors
    * excluded) certifies stream → merge → storage end-to-end: three
    * manifest commits, replace/insert/tombstone per batch, and that
    * sequential batch merges of time-ordered slices compose to the
    * global last-state. Correctness of the composition needs only the
    * slices' ts-disjointness: the last slice containing a user carries
    * that user's global-latest event, and later merges never touch the
    * user. Scale: each batch's update set is user-dimension-sized
    * (map-side argmax partial agg), and each merge rewrites only the
    * touched key-hash buckets. */
  /** Stage the events table as three chronologically named/mtimed
    * parquet slices for a file-source stream (shared by e26/e28). */
  private def stageCdcSlices(s: SparkSession, d: String, prefix: String)
      : (String, org.apache.spark.sql.types.StructType) = {
    val ev = graft.sources.Tables.events(s, d)
    val schema = ev.schema // restaged through Spark → normalized layout
    val stage = java.nio.file.Files.createTempDirectory(s"graft_${prefix}_src")
    Seq(("aa_d01", dayofmonth(col("ts")) <= 10, 0L),
        ("ab_d11", dayofmonth(col("ts")) > 10 && dayofmonth(col("ts")) <= 20, 5000L),
        ("ac_d21", dayofmonth(col("ts")) > 20, 10000L)).foreach {
      case (fname, pred, mtimeOff) =>
        val side = java.nio.file.Files.createTempDirectory(s"graft_${prefix}_split")
        ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(side.toString)
        val part = side.toFile.listFiles()
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error("cdc split write produced no parquet part"))
        val target = stage.resolve(s"$fname.parquet")
        java.nio.file.Files.move(part.toPath, target)
        java.nio.file.Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() + mtimeOff))
        graft.util.Scratch.deleteRecursively(side.toFile)
    }
    (stage.toString, schema)
  }

  /** One micro-batch's per-user last state + error tombstones (shared
    * by e26/e28 — within a slice the argmax picks the newest event,
    * across slices the later merge replaces unconditionally, which
    * agrees because slice order IS ts order). */
  private def lastUserState(batch: DataFrame): DataFrame =
    batch.groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("last"))
      .select(col("user_id"),
        col("last.ts").as("last_ts"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))
      .withColumn("del", col("last_type") === "error")

  /** Run the staged-slice stream through `applyBatch` to completion. */
  private def runCdcStream(s: SparkSession, stage: String,
      schema: org.apache.spark.sql.types.StructType, prefix: String,
      applyBatch: (DataFrame, Long) => Unit): Unit = {
    val ckpt = graft.util.Scratch.ckptDir(prefix)
    val ns = s.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", "8")
    val q = ns.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stage)
      .transform(graft.sources.Tables.normalizeTs)
      .writeStream
      .foreachBatch(applyBatch)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def e26(s: SparkSession, d: String): DataFrame = {
    val prefix = "e26"
    val (stage, schema) = stageCdcSlices(s, d, prefix)
    val table = graft.util.Scratch.fresh(s"${prefix}_vtab")
    // explicit function VAL picks the Scala foreachBatch overload (the
    // (DataFrame, Long) => Unit vs VoidFunction2 ambiguity)
    val applyBatch: (DataFrame, Long) => Unit = (batch, _) => {
      graft.sources.VersionedTable.merge(batch.sparkSession, table,
        lastUserState(batch), Seq("user_id"), Some("del"), numBuckets = 16)
      ()
    }
    runCdcStream(s, stage, schema, prefix, applyBatch)
    graft.sources.VersionedTable.read(s, table).orderBy(col("user_id"))
  }

  /** e28 — streaming MERGE-ON-READ ingest with deltaStats-driven
    * compaction: e26's chronological foreachBatch MERGE loop, but each
    * micro-batch commits as a DELTA LAYER (`mor = true`) — the write
    * shape for high-frequency scattered micro-batches, where COW
    * rewrites ~the whole table per batch (study_r10.json, 515×
    * amplification at sf1) — and the compaction cadence is the
    * table's own `autoCompactLayers` policy (manifest-only deltaStats
    * probe inside merge): fold when any bucket stacks ≥ 2 layers (the
    * aggressive end of the measured 8-16 rule, so the gate exercises
    * BOTH the stacked-resolution read and the folded path inside one
    * run). Oracle = e26's relational recompute:
    * MoR layering and compaction must be invisible in the result. */
  private def e28(s: SparkSession, d: String): DataFrame = {
    val prefix = "e28"
    val (stage, schema) = stageCdcSlices(s, d, prefix)
    val table = graft.util.Scratch.fresh(s"${prefix}_vtab")
    val applyBatch: (DataFrame, Long) => Unit = (batch, _) => {
      val sess = batch.sparkSession
      // compaction now rides the TABLE's own policy (autoCompactLayers)
      // instead of caller-side deltaStats+compact; the threshold stays
      // at the aggressive end (2, vs AutoCompactDefault=8 for
      // production cadence) so one gate run exercises BOTH the
      // stacked-resolution read and the folded path
      graft.sources.VersionedTable.merge(sess, table,
        lastUserState(batch), Seq("user_id"), Some("del"), numBuckets = 16,
        mor = true, autoCompactLayers = 2)
      ()
    }
    runCdcStream(s, stage, schema, prefix, applyBatch)
    graft.sources.VersionedTable.read(s, table).orderBy(col("user_id"))
  }

  /** e29 — EXACTLY-ONCE streaming ingest under micro-batch REPLAY:
    * e28's chronological MoR merge loop, but every micro-batch is
    * applied TWICE with the same `txn = (queryName, batchId)` — the
    * faithful simulation of checkpoint recovery, where the source
    * re-delivers the last batch whose commit the sink already holds.
    * The second application must be recognized by the table's
    * idempotent-writer watermark and SKIPPED: in-code `require`s pin
    * that the replay returns the SAME version (no phantom commit) and
    * stacks NO spurious delta layer — a plain upsert replay would
    * pass a data-only oracle silently while doubling the layer count
    * and the compaction pressure, which is exactly the failure mode
    * the watermark removes at scale. Oracle = e26's relational
    * recompute: replay handling must be invisible in the result. */
  private def e29(s: SparkSession, d: String): DataFrame = {
    val prefix = "e29"
    val (stage, schema) = stageCdcSlices(s, d, prefix)
    val table = graft.util.Scratch.fresh(s"${prefix}_vtab")
    val applyBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
      val sess = batch.sparkSession
      val state = lastUserState(batch)
      def apply(): Long = graft.sources.VersionedTable.merge(sess, table,
        state, Seq("user_id"), Some("del"), numBuckets = 16,
        mor = true, txn = Some((s"${prefix}_ingest", batchId)))
      val v1 = apply()
      val layers1 =
        graft.sources.VersionedTable.deltaStats(sess, table)._1
      val v2 = apply() // the replayed delivery
      val layers2 =
        graft.sources.VersionedTable.deltaStats(sess, table)._1
      require(v2 == v1,
        s"replayed batch $batchId committed a phantom version ($v1 -> $v2)")
      require(layers2 == layers1,
        s"replayed batch $batchId stacked a spurious delta layer " +
          s"($layers1 -> $layers2)")
      ()
    }
    runCdcStream(s, stage, schema, prefix, applyBatch)
    graft.sources.VersionedTable.read(s, table).orderBy(col("user_id"))
  }

  /** e31 — streaming ingest through the NAMED sink
    * (`writeStream.format("graft")`): the chronological event slices
    * stream in (maxFilesPerTrigger=1 → one merge per slice), keyed by
    * event_id with MoR layering riding the option surface. EXACTLY-
    * ONCE is certified in-gate by replaying the WHOLE stream — a
    * fresh checkpoint restarts batch ids at 0, and the sink's writer
    * ledger (txnAppId × batchId) must recognize every batch and
    * commit zero phantom versions. The oracle is the raw event log:
    * ingest-by-unique-key must reproduce it exactly. */
  private def e31(s: SparkSession, d: String): DataFrame = {
    val prefix = "e31"
    val (stage, schema) = stageCdcSlices(s, d, prefix)
    val table = graft.util.Scratch.fresh(s"${prefix}_vtab")
    def runOnce(): Unit = {
      val ckpt = graft.util.Scratch.ckptDir(prefix)
      val ns = s.newSession()
      ns.conf.set("spark.sql.shuffle.partitions", "8")
      val q = ns.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .transform(graft.sources.Tables.normalizeTs)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
        .writeStream.format("graft")
        .option("keyCols", "event_id")
        .option("numBuckets", 16)
        .option("mor", "true")
        .option("txnAppId", s"${prefix}_ingest")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(table)
      q.awaitTermination()
    }
    runOnce()
    val v1 = graft.sources.VersionedTable.versions(s, table).max
    runOnce() // full replay: fresh checkpoint, same identity + batch ids
    val v2 = graft.sources.VersionedTable.versions(s, table).max
    require(v2 == v1,
      s"replayed stream committed phantom versions ($v1 -> $v2)")
    graft.sources.VersionedTable.read(s, table)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }
  private val e31Sql =
    """SELECT event_id, user_id, ts, event_type, value
       FROM events ORDER BY event_id"""

  private val e26Sql =
    """SELECT user_id, ts AS last_ts, event_id AS last_event_id,
         event_type AS last_type, value AS last_value
       FROM (SELECT *, row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             FROM events)
       WHERE rn = 1 AND event_type <> 'error'
       ORDER BY user_id"""

  /** e27 — streaming CONSUMPTION of the versioned table's published
    * change feed (the downstream half of the CDC loop e26 opens): the
    * serving table is built by three chronological batch MERGEs of
    * per-user last state (e26's slices and argmax shape — v0 creation,
    * then two correction commits that replace, insert, and tombstone),
    * and a `VersionedTable.changeFeedStream` consumer maintains a
    * per-event-type rollup (users, total cents) from the PUBLISHED
    * feeds alone: the view lives as its OWN VersionedTable keyed by
    * the group column, bootstrapped from the v0 snapshot, then one
    * `maintainTable` application per micro-batch (maxFilesPerTrigger=1
    * forces several) — TABLE to TABLE, Θ(batch) per step, never
    * re-reading the base table and never holding view rows on the
    * driver, so the same loop serves a per-user view at any
    * cardinality. The oracle recomputes the rollup relationally from
    * the final state, so a hash match certifies merge → _cdc
    * materialization → post-commit publication → file-source stream →
    * table-to-table IVM, end to end. Batching is free to split or
    * combine versions because `maintain`'s counting algebra is linear
    * — the per-version equality law is in VersionedTableSpec, and the
    * high-cardinality (per-user) form of this loop is spec'd there
    * too. Scale: each micro-batch is merge-batch-sized whatever the
    * table's size, and each IVM step touches only the batch's groups —
    * this is the dashboard-refresh path that never rescans 100 TB. */
  private def e27(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val table = graft.util.Scratch.fresh("e27_vtab")
    def slice(pred: Column): DataFrame = ev.filter(pred)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("last"))
      .select(col("user_id"),
        col("last.ts").as("last_ts"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))
      .withColumn("del", col("last_type") === "error")
    Seq(dayofmonth(col("ts")) <= 10,
        dayofmonth(col("ts")) > 10 && dayofmonth(col("ts")) <= 20,
        dayofmonth(col("ts")) > 20)
      .foreach(p => graft.sources.VersionedTable.merge(s, table, slice(p),
        Seq("user_id"), Some("del"), numBuckets = 16))
    def rollup(df: DataFrame): DataFrame = df
      .withColumn("cents", expr("cast(round(last_value * 100) as bigint)"))
      .groupBy(col("last_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("cents"))
    // the standing view a dashboard holds, AS A TABLE: v0 state,
    // computed once, committed as the view table's creation version
    val viewTable = graft.util.Scratch.fresh("e27_view")
    graft.sources.VersionedTable.merge(s, viewTable,
      rollup(graft.sources.VersionedTable.read(s, table, Some(0L))),
      Seq("last_type"), numBuckets = 4)
    val ckpt = graft.util.Scratch.ckptDir("e27")
    val ns = s.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", "8")
    val applyBatch: (DataFrame, Long) => Unit = (batch, _) => {
      val ss = batch.sparkSession
      val feed = batch
        .withColumn("cents", expr("cast(round(last_value * 100) as bigint)"))
        .select(col("change"), col("last_type"), col("cents"))
      graft.sources.VersionedTable.maintainTable(
        ss, viewTable, feed, Seq("last_type"), "n_users", Seq("cents"))
      ()
    }
    val q = graft.sources.VersionedTable
      .changeFeedStream(ns, table, Map("maxFilesPerTrigger" -> "1"))
      .writeStream
      .foreachBatch(applyBatch)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.sources.VersionedTable.read(s, viewTable)
      .select(col("last_type"), col("n_users"),
        (col("cents") / 100.0).as("total_value"))
      .orderBy(col("last_type"))
  }

  /** e30 — the SAME loop as e27, consumed through
    * `readStream.format("graft")` (GraftChangeFeedSource) instead of
    * the programmatic `changeFeedStream`: a stream consumer names the
    * format like the batch side (the Delta CDF streaming UX) with the
    * table's commit version as the offset domain. Certified against
    * e27's relational oracle, so the provider-path stream's rows are
    * proven interchangeable with the file-source path's end to end
    * (merge → publish → provider stream → table-to-table IVM). Two
    * merge slices keep the staging lean; convergence is slicing-
    * independent because the upserts are keyed and `maintain`'s
    * algebra is linear. */
  private def e30(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val table = graft.util.Scratch.fresh("e30_vtab")
    def slice(pred: Column): DataFrame = ev.filter(pred)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("last"))
      .select(col("user_id"),
        col("last.ts").as("last_ts"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))
      .withColumn("del", col("last_type") === "error")
    Seq(dayofmonth(col("ts")) <= 15, dayofmonth(col("ts")) > 15)
      .foreach(p => graft.sources.VersionedTable.merge(s, table, slice(p),
        Seq("user_id"), Some("del"), numBuckets = 16))
    def rollup(df: DataFrame): DataFrame = df
      .withColumn("cents", expr("cast(round(last_value * 100) as bigint)"))
      .groupBy(col("last_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("cents"))
    val viewTable = graft.util.Scratch.fresh("e30_view")
    graft.sources.VersionedTable.merge(s, viewTable,
      rollup(graft.sources.VersionedTable.read(s, table, Some(0L))),
      Seq("last_type"), numBuckets = 4)
    val ckpt = graft.util.Scratch.ckptDir("e30")
    val ns = s.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", "8")
    val applyBatch: (DataFrame, Long) => Unit = (batch, _) => {
      val ss = batch.sparkSession
      val feed = batch
        .withColumn("cents", expr("cast(round(last_value * 100) as bigint)"))
        .select(col("change"), col("last_type"), col("cents"))
      graft.sources.VersionedTable.maintainTable(
        ss, viewTable, feed, Seq("last_type"), "n_users", Seq("cents"))
      ()
    }
    val q = ns.readStream.format("graft").load(table)
      .writeStream
      .foreachBatch(applyBatch)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.sources.VersionedTable.read(s, viewTable)
      .select(col("last_type"), col("n_users"),
        (col("cents") / 100.0).as("total_value"))
      .orderBy(col("last_type"))
  }

  private val e27Sql =
    """WITH final AS (
         SELECT user_id, event_type, value
         FROM (SELECT *, row_number() OVER (
                 PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 AND event_type <> 'error')
       SELECT event_type AS last_type, count(*) AS n_users,
         sum(cast(round(value * 100) as bigint)) / 100.0 AS total_value
       FROM final GROUP BY 1 ORDER BY 1"""

  val queries: Map[String, QueryFn] = Map(
    "e28_stream_mor_ingest" -> e28 _,
    "e29_stream_exactly_once" -> e29 _,
    "e27_stream_feed_maintain" -> e27 _,
    "e30_stream_graft_source" -> e30 _,
    "e31_stream_graft_sink" -> e31 _,
    "e26_stream_cdc_merge" -> e26 _,
    "e25_stream_anomaly" -> e25 _,
    "e24_update_mode" -> e24 _,
    "e23_jdbc_serving" -> e23 _,
    "e22_stream_enrich" -> e22 _,
    "e21_late_data" -> e21 _,
    "e19_trending_topk" -> e19 _,
    "e20_stream_neardup" -> e20 _,
    "e18_markov_transitions" -> e18 _,
    "e17_stream_outer_join" -> e17 _,
    "e16_stream_dedup" -> e16 _,
    "e15_stream_sessions" -> e15 _,
    "e13_stream_tumbling" -> e13 _,
    "e14_stream_join" -> e14 _,
    "e12_concurrency" -> e12 _,
    "e01_tumbling_window" -> e01 _,
    "e10_funnel" -> e10 _,
    "e11_retention_cohorts" -> e11 _,
    "e07_map_entries" -> e07 _,
    "e08_histogram" -> e08 _,
    "e09_hash_sample" -> e09 _,
    "e02_sliding_window" -> e02 _,
    "e03_session_window" -> e03 _,
    "e04_json_extract" -> e04 _,
    "e05_asof_join" -> e05 _,
    "e06_range_join" -> e06 _,
  )

  val oracle: Map[String, String] = Map(
    "e27_stream_feed_maintain" -> e27Sql,
    // the provider-path stream must be row-interchangeable with the
    // programmatic feed stream: same oracle as e27
    "e30_stream_graft_source" -> e27Sql,
    "e31_stream_graft_sink" -> e31Sql,
    "e26_stream_cdc_merge" -> e26Sql,
    // MoR layering + compaction must be invisible: same oracle as e26
    "e28_stream_mor_ingest" -> e26Sql,
    // replay skipping must be invisible in the DATA (the in-code
    // requires pin the version/layer accounting): same oracle as e26
    "e29_stream_exactly_once" -> e26Sql,
    "e25_stream_anomaly" -> e25Sql,
    "e24_update_mode" -> e24Sql,
    "e23_jdbc_serving" -> e23Sql,
    "e22_stream_enrich" -> e22Sql,
    "e21_late_data" -> e21Sql,
    "e19_trending_topk" -> e19Sql,
    // the online operator is certified against the BATCH near-dup chain
    "e20_stream_neardup" -> graft.ext.Dedup.d06Sql,
    "e18_markov_transitions" -> e18Sql,
    "e17_stream_outer_join" -> e17Sql,
    "e16_stream_dedup" -> e16Sql,
    "e15_stream_sessions" -> e03Sql, // streaming plane must equal batch
    "e13_stream_tumbling" -> e01Sql, // streaming plane must equal batch
    "e14_stream_join" -> e14Sql,
    "e12_concurrency" -> e12Sql,
    "e01_tumbling_window" -> e01Sql,
    "e10_funnel" -> e10Sql,
    "e11_retention_cohorts" -> e11Sql,
    "e07_map_entries" -> e07Sql,
    "e08_histogram" -> e08Sql,
    "e09_hash_sample" -> e09Sql,
    "e02_sliding_window" -> e02Sql,
    "e03_session_window" -> e03Sql,
    "e04_json_extract" -> e04Sql,
    "e05_asof_join" -> e05Sql,
    "e06_range_join" -> e06Sql,
  )
}
