package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default matches the record methodology (local[32] on this host;
    // the driver also passes 32) — a forgotten env var used to mean an
    // accidental local[4] run that was 10-40% slower on CPU-bound
    // queries yet could still replace a record on the more-queries rule
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JVM/codegen/parquet-reader/noop-sink initialization is
    // paid once here instead of inflating whichever query runs first
    spark.range(1000000L).selectExpr("sum(id)")
      .write.mode("overwrite").format("noop").save()
    // prime the interpreter/JIT over the expression machinery the query
    // suite leans on — md5/conv hashing, interpreted higher-order
    // lambdas, regex extraction, JSON parsing, window frames, shuffle
    // joins. Cold, these paths cost 5-15 s on WHICHEVER query first
    // touches them (measured: d02 18 s cold vs 2.5 s steady); that is
    // JVM warmup, not query cost, so it belongs here, untimed. Synthetic
    // input only — no query's tables or results are precomputed.
    locally {
      import org.apache.spark.sql.functions._
      val w = spark.range(200000L)
        .withColumn("s", concat_ws(" ", (0 to 6).map(i => conv((col("id") + i).cast("string"), 10, 36)): _*))
        .withColumn("j", concat(lit("""{"k":"""), col("id") % 97, lit("}")))
      val shingled = w
        .withColumn("toks", split(col("s"), " "))
        .select(col("id"), col("j"), explode(transform(sequence(lit(1), size(col("toks")) - 2),
          i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1)))).as("sh"))
        .withColumn("h", graft.functions.Hashing.h60(col("sh")))
        .withColumn("k", get_json_object(col("j"), "$.k").cast("int"))
        .withColumn("r", regexp_extract_all(col("sh"), lit("[^ ]+"), lit(0)))
      val agg = shingled.groupBy(col("h") % 1024).agg(count(lit(1)).as("n"), sum(col("k")).as("sk"))
      agg.as("a").join(agg.as("b"), "(h % 1024)")
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("a.n")).orderBy(col("a.sk"))))
        .write.mode("overwrite").format("noop").save()
      // prime the COLUMNAR CACHE machinery (persist build: per-column
      // compression encoders; cache scan: ColumnarToRow + codec decode)
      // plus broadcast-probe-over-cache, integer div aggregation, and
      // the collect_list/array_intersect pair-verify shapes — every
      // persist-slot-heavy query (graph iterations, the dedup family)
      // otherwise pays this class-load/JIT cost inside its first timed
      // run (measured: identical stages cost 5-10x less once warm).
      // Synthetic input only, dropped before any query runs.
      val c = spark.range(300000L)
        .select(col("id"), (col("id") % 997).as("k"), (col("id") % 31 + 1).as("w"))
        .persist()
      c.count()
      c.join(broadcast(c.groupBy(col("k")).agg(sum(col("w")).as("ow"))), "k")
        .groupBy(col("k"))
        .agg(expr("sum((id * w) div ow)").as("s"))
        .write.mode("overwrite").format("noop").save()
      c.groupBy(col("k")).agg(collect_list(col("w")).as("arr"))
        .select(col("k"), size(array_intersect(col("arr"), col("arr"))).as("ni"))
        .write.mode("overwrite").format("noop").save()
      c.unpersist(blocking = false)
    }
    // touch every table once: the first scan of a file pays footer
    // reads + filesystem metadata that would otherwise land on
    // whichever query alphabetically reads that table first (a01 was
    // charged ~1.5 s of documents-first-scan cost before this)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    }
    // Per-query stage/CPU attribution: wall time alone cannot
    // distinguish co-tenant contention (wall up, CPU flat, stages flat)
    // from a plan regression that recomputes a DAG (stages AND CPU up).
    // One listener on the shared context counts completed stages and
    // sums executor CPU (ns) and run (ms) time between per-query
    // resets; isolated newSession()s (the streaming harness) share the
    // context, so their jobs are captured too.
    val qm = new org.apache.spark.scheduler.SparkListener {
      val stages = new java.util.concurrent.atomic.AtomicLong
      val cpuNs = new java.util.concurrent.atomic.AtomicLong
      val runMs = new java.util.concurrent.atomic.AtomicLong
      val lastEvent = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val m = e.stageInfo.taskMetrics
        if (m != null) { cpuNs.addAndGet(m.executorCpuTime); runMs.addAndGet(m.executorRunTime) }
        lastEvent.set(System.nanoTime())
      }
      def reset(): Unit = { stages.set(0); cpuNs.set(0); runMs.set(0) }
    }
    spark.sparkContext.addSparkListener(qm)
    // the listener bus is async: wait until it has been quiet for 150 ms
    // (cap 2 s) so a query's trailing stage events don't bleed into the
    // next query's counters
    def drainListener(): Unit = {
      val t0 = System.nanoTime()
      while (System.nanoTime() - qm.lastEvent.get() < 150000000L &&
             System.nanoTime() - t0 < 2000000000L) Thread.sleep(20)
    }
    // /proc/loadavg before/after each query: BASELINE.md's quiet-vs-
    // contended methodology (co-tenant load inflates wall 2-5x for
    // identical work) applied by hand until now — recording the 1-min
    // load makes "was this a quiet run?" machine-checkable per query
    // and per run instead of an annotation
    def loadAvg(): Double =
      try java.nio.file.Files.readString(
          java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Exception => -1.0 }
    // /proc/stat's steal column (ticks this VM wanted a CPU the
    // hypervisor gave to someone else): loadavg can't see HOST
    // co-tenancy — a run can drift +15% uniformly at loadavg ~1 —
    // but steal can. Recording the run's delta closes the last
    // unexplained band in the quiet-run methodology.
    def stealTicks(): Long =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
        .linesIterator.next().trim.split("\\s+")(8).toLong
      catch { case _: Exception => -1L }
    // SECOND admission signal (BASELINE.md r12-r13: this host's
    // throttle windows steal CPU the steal counter undercounts — the
    // sf1 record chain showed wall as noise between similar-steal
    // runs): PSI /proc/pressure/cpu `some total` counts EVERY
    // microsecond any runnable task here waited for a CPU, whatever
    // the cause — hypervisor steal, co-tenant burst, or cgroup
    // throttling — so a run that "looked quiet on steal" but stalled
    // is machine-detectable.
    def cpuStallUsec(): Long =
      try {
        val line = java.nio.file.Files.readString(
            java.nio.file.Paths.get("/proc/pressure/cpu"))
          .linesIterator.find(_.startsWith("some")).getOrElse("")
        "total=(\\d+)".r.findFirstMatchIn(line)
          .map(_.group(1).toLong).getOrElse(-1L)
      } catch { case _: Exception => -1L }
    // cgroup CFS throttling, recorded alongside (v2 cpu.stat
    // throttled_usec, else v1 throttled_time in ns): zero on this host
    // today, but a quota'd deployment would see its bench ceilings here
    def cpuThrottledUsec(): Long =
      try {
        val v2 = java.nio.file.Paths.get("/sys/fs/cgroup/cpu.stat")
        val v1 = java.nio.file.Paths.get("/sys/fs/cgroup/cpu/cpu.stat")
        if (java.nio.file.Files.exists(v2))
          java.nio.file.Files.readString(v2).linesIterator
            .find(_.startsWith("throttled_usec"))
            .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
        else
          java.nio.file.Files.readString(v1).linesIterator
            .find(_.startsWith("throttled_time"))
            .map(_.split("\\s+")(1).toLong / 1000L).getOrElse(-1L)
      } catch { case _: Exception => -1L }
    val loadStart = loadAvg()
    val stealStart = stealTicks()
    val stallStart = cpuStallUsec()
    val throttledStart = cpuThrottledUsec()
    // one end-read shared by both outputs (two separate reads could
    // disagree), and -1 propagates as the EXPLICIT error marker instead
    // of being subtracted through (start -1 + good end = end+1 bogus;
    // good start + end -1 = negative)
    def stealDelta(): Long = {
      val end = stealTicks()
      if (stealStart < 0 || end < 0) -1L else end - stealStart
    }
    def stallDelta(): Long = {
      val end = cpuStallUsec()
      if (stallStart < 0 || end < 0) -1L else end - stallStart
    }
    def throttledDelta(): Long = {
      val end = cpuThrottledUsec()
      if (throttledStart < 0 || end < 0) -1L else end - throttledStart
    }
    var failed = List.empty[String]
    // optional args = query-name filter (substring match) for focused
    // local profiling; the driver passes no args and benches everything
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => args.isEmpty || args.exists(name.contains) }
    val results = selected.map { case (name, fn) =>
      drainListener()
      qm.reset()
      val load0 = loadAvg()
      val t0 = System.nanoTime()
      // noop-format write fully evaluates every output column (a count()
      // would let Catalyst prune final projections out of the timing)
      val ok =
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e")
          failed ::= name
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      drainListener()
      val (nStages, cpuMs, runMs) =
        (qm.stages.get(), qm.cpuNs.get() / 1000000L, qm.runMs.get())
      // drop any persisted blocks a query left behind so the next
      // query's timing is isolated (a leaked cache slot otherwise
      // shrinks the execution-memory pool for every later query)
      spark.catalog.clearCache()
      // failures stay visible: negative elapsed + the failed list below
      name -> ((if (ok) sec else -sec, nStages, cpuMs, runMs, load0, loadAvg()))
    }.toMap
    // Locale.ROOT: a comma-decimal default locale would emit "1,234"
    // and break both JSON outputs
    def j(v: Double) = String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(v))
    val total = results.values.map(_._1).filter(_ > 0).sum
    val stealRun = stealDelta() // captured once; both outputs record the same figure
    val stallRun = stallDelta()
    val throttledRun = throttledDelta()
    val fullFailedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // cap the PRINTED failure list — a mass failure must not push the
    // JSON line's head out of the driver's ~2000-char capture window
    // (bench_full.json keeps the complete list)
    val failedJson = failed.sorted.take(20).map("\"" + _ + "\"").mkString("[", ",", "]")
    val sorted = results.toSeq.sortBy(-_._2._1)
    // full per-query detail goes to a file; the printed line must stay
    // SHORT — the driver captures only the final ~2000 chars of output,
    // and a 104-entry map (~4.4 KB) pushed the JSON line's start out of
    // that window every round (BENCH_r01..r03 all record parsed:null).
    // failures emit sec clamped to 0 plus an explicit "err" flag — a
    // negative elapsed read as a measurement and skewed summed totals
    val fullJson = sorted
      .map { case (k, (v, st, cpu, run, l0, l1)) =>
        val errField = if (v < 0) ""","err":true""" else ""
        s"""\"$k\":{"sec":${j(math.max(v, 0))},"stages":$st,"cpu_ms":$cpu,"run_ms":$run,"load":[${j(l0)},${j(l1)}]$errField}""" }
      .mkString(s"""{"metric":"total","value":${j(total)},"unit":"sec","n_queries":${results.size},"load_start":${j(loadStart)},"load_end":${j(loadAvg())},"steal_ticks":$stealRun,"cpu_stall_usec":$stallRun,"cpu_throttled_usec":$throttledRun,"queries":{""",
        ",", s"""},"failed":$fullFailedJson,"sf":"$sfDir"}""")
    // Record-file protocol (two rounds of clobbered quiet records forced
    // this to be structural, not procedural):
    //   - focused runs (query-filter args) write ONLY bench_full_focused
    //     .json — a profiling run must never touch record files;
    //   - bench_full.json is the "latest full run" the driver reads —
    //     always overwritten by a full run;
    //   - bench_full_<sf>.json is the SF-keyed RECORD: a full run only
    //     replaces it when it is at least as good — strictly more
    //     queries, or (>= queries, no failures, and steal no higher than
    //     the incumbent's). A refused run is APPENDED (one JSON line) to
    //     bench_full_<sf>_attempts.jsonl so no datapoint is lost —
    //     a fixed-name attempt file would itself clobber on the second
    //     refused run, the exact failure the protocol exists to stop.
    val sfLabel = new java.io.File(sfDir).getName
    def writeFile(path: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        fullJson.getBytes("UTF-8"))
    val recordStatus: String =
      if (args.nonEmpty) { writeFile("bench_full_focused.json"); "focused" }
      else {
        writeFile("bench_full.json")
        val recPath = java.nio.file.Paths.get(s"bench_full_$sfLabel.json")
        def field(text: String, name: String): Long =
          s""""$name":(-?\\d+)""".r.findFirstMatchIn(text)
            .map(_.group(1).toLong).getOrElse(Long.MinValue)
        val old = try Some(java.nio.file.Files.readString(recPath))
                  catch { case _: Exception => None }
        val replace = old match {
          case None => true // no incumbent
          case Some(t) =>
            val (oldN, oldSteal) = (field(t, "n_queries"), field(t, "steal_ticks"))
            // PSI stall is the SECOND admission signal (r13 finding:
            // throttle windows steal CPU the steal counter undercounts,
            // so similar-steal runs differed 20 s on pure wall noise).
            // An incumbent predating the field (MinValue) or an
            // unreadable PSI (-1) degrades to the steal-only rule.
            val oldStall = field(t, "cpu_stall_usec")
            val stallOk = oldStall == Long.MinValue || oldStall < 0 ||
              (stallRun >= 0 && stallRun <= oldStall)
            if (oldN == Long.MinValue) true // unparseable incumbent
            else if (results.size > oldN && failed.isEmpty) true
            else failed.isEmpty && results.size >= oldN &&
              (oldSteal < 0 || (stealRun >= 0 && stealRun <= oldSteal)) &&
              stallOk
        }
        if (replace) { writeFile(s"bench_full_$sfLabel.json"); "updated" }
        else {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"bench_full_${sfLabel}_attempts.jsonl"),
            (fullJson + "\n").getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
          "kept"
        }
      }
    // printed line: top-20 wall times, plus the [stages, cpu_ms, run_ms]
    // triple for the same 20 — enough to discriminate contention from
    // recompute on every slow query while staying inside the capture
    // window (bench_full.json has the triple for all queries)
    val top20 = sorted.take(20)
    val top = top20.map { case (k, (v, _, _, _, _, _)) => s"\"$k\":${j(math.max(v, 0))}" }.mkString(",")
    val topM = top20.map { case (k, (_, st, cpu, run, _, _)) => s"\"$k\":[$st,$cpu,$run]" }.mkString(",")
    println(s"""{"metric":"total","value":${j(total)},"unit":"sec","n_queries":${results.size},"load":[${j(loadStart)},${j(loadAvg())}],"steal":$stealRun,"stall_us":$stallRun,"record":"$recordStatus","queries":{$top},"m":{$topM},"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
