package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession builder carrying the engine's
  * recommended configuration. Each setting is a measured decision, not
  * a default copied forward:
  *
  *  - AQE on: runtime re-planning (skew-join splitting, partition
  *    coalescing, broadcast demotion) is the first line of defense at
  *    scales the planner can't estimate;
  *  - shuffle.partitions sized to cores for local runs — on a cluster
  *    set ~2-3x total executor cores; the 200 default is wrong in both
  *    directions;
  *  - UTC session timezone: timestamp arithmetic must not depend on
  *    driver locale (the DuckDB oracle compares in UTC);
  *  - extensions registered so `cosine_sim` is SQL-callable and the
  *    TopKPerKey strategy needs no per-query injection;
  *  - `fs.file.impl` and `fs.AbstractFileSystem.file.impl` name the
  *    fork-free local filesystem (`graft.util.NoForkLocalFileSystem`,
  *    `NoForkLocalFs`): without the Hadoop native library the stock one
  *    forks `chmod` for every file and directory it creates (779 per
  *    filings_etl run) and `readlink` on FileContext renames. Process
  *    creations per filings_etl run (`/proc/stat processes`, threads
  *    included, 4 cores) fell from 2,143-2,247 to 533-604 with it, and a
  *    64-bucket commit task no longer pays ~1.6 ms per file serially.
  *
  * Every setting is a constant: there is one session configuration to
  * test and benchmark. A deployment that wants another value calls
  * `.config(key, value)` on the builder `builder` returns; the later
  * call wins. Only the shuffle/spill directory reads the environment
  * (`SPARK_GRAFT_LOCAL_DIR`, see `localDir`).
  */
object GraftSession {

  def builder(master: String, cores: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); set once at build time so
      // no table loader has to mutate session config as a read side effect
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // write timestamps as INT64 micros, not the deprecated INT96:
      // INT96 chunks carry NO parquet statistics (verified on this
      // Spark build), which silently disables BOTH row-group pushdown
      // and the manifest data-skipping stats for timestamp columns —
      // and int64 is what every other lakehouse reader (DuckDB,
      // Iceberg, Delta) expects anyway
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // AQE partition coalescing (optimization guide §2.2), MEASURED
      // A/B this round: size-first coalescing (parallelismFirst=false,
      // advisory 64m) collapsed small post-shuffle stages to 1-2 tasks
      // — which SERIALIZED expansion joins whose input is small but
      // whose probe work is large (d16's candidate join: input 224k
      // rows ≈ 4 MB, output 2.4M pairs → 1 task, wall 5.7 → 13.4 s).
      // Once the real per-task constant was fixed at the source (the
      // bypass shuffle writer's 33 file creates per map task, below),
      // parallelism-first won every A/B cell: d16 5.0 vs 13.4 s wall,
      // d02 1.7 vs 2.9, g01 6.1 vs 7.4, rest equal. A cluster with real
      // data volumes wants size-targeted partitions (parallelismFirst
      // false and an advisory in the 64-256m range, guide §9) and sets
      // both with `.config` on the returned builder.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      // Shuffle writer + local-dir I/O (guide §2.1: map-side cost is
      // charged to executor compute; §6: local disk is the shuffle
      // medium). Thread-dump sampling of the bench showed map tasks
      // spending ~half their CPU inside BypassMergeSortShuffleWriter's
      // per-reduce-partition FileOutputStream.open/write/concat: the
      // bypass writer opens R files PER MAP TASK (32 reduce partitions
      // → 33 file creates/task on ext4, ~1-3 ms each), which dominates
      // every small stage. Disabling the bypass path (threshold below
      // the partition count) selects the serialized sort writer — ONE
      // data+index file per map task at any R — the same writer every
      // >200-partition production shuffle already uses.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // Spark 4.1's checkpoint file checksums (new in 4.1; absent from
      // every earlier Spark) write a sibling .checksum per checkpoint
      // file through ChecksumCheckpointFileManager. On a local
      // filesystem WITHOUT the Hadoop native library (this sandbox —
      // and most laptops/CI), the extra getFileStatus/permission calls
      // each FORK a shell (`ls`/`chmod` via Hadoop's
      // DeprecatedRawLocalFileStatus.loadPermissionInfo): driver
      // thread-dump sampling during e17 caught 34/50 runnable samples
      // inside ProcessImpl.forkAndExec under that manager. Integrity
      // hardening against storage corruption, not semantics — off
      // here; a deployment on storage where the protection is wanted
      // turns it on with `.config`.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", classOf[graft.util.NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.util.NoForkLocalFs].getName)
    localDir.fold(b)(d => b.config("spark.local.dir", d))
  }

  /** Shuffle/spill scratch directory: tmpfs when the host offers it
    * (/dev/shm — file create ~µs vs ~ms on this sandbox's ext4 /tmp),
    * else Spark's default. A deployment with real local SSDs sets
    * SPARK_GRAFT_LOCAL_DIR (or spark.local.dir) itself; shuffle data
    * at bench scale is MBs, far under the tmpfs bound. */
  private def localDir: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val shm = new java.io.File("/dev/shm")
      // capacity gate (r15 advisor): containers commonly cap /dev/shm at
      // 64 MB — shuffle files or memory-pressure spills landing on a tiny
      // RAM-backed tmpfs would ENOSPC runs that worked on disk /tmp.
      // Elect tmpfs only with a real margin; otherwise Spark's default.
      if (shm.isDirectory && shm.canWrite &&
          shm.getUsableSpace > 4L * 1024 * 1024 * 1024) {
        // tmpfs is RAM: Spark's shutdown hook removes its blockmgr/spark
        // subdirs on clean exit, but a killed JVM leaks them silently.
        // Each JVM gets a PID-named subdir so the best-effort GC can
        // skip dirs whose owning process is still alive (r15 advisor: an
        // age-only cutoff could delete a live >6h session's shuffle dirs
        // mid-query) and reap the rest once stale.
        try {
          val root = new java.io.File("/dev/shm/graft_spark_local")
          val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
          val pidRe = "pid_(\\d+)".r
          def ownerAlive(name: String): Boolean = pidRe.findFirstMatchIn(name)
            .exists(m => java.nio.file.Files.isDirectory(
              java.nio.file.Paths.get("/proc", m.group(1))))
          Option(root.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isDirectory && f.lastModified() < cutoff &&
              !ownerAlive(f.getName))
            .foreach(graft.util.Scratch.deleteRecursively)
        } catch { case _: Exception => () }
        Some(s"/dev/shm/graft_spark_local/pid_${ProcessHandle.current().pid()}")
      } else None
    }

  /** Local session sized to the machine (the test/bench shape). The
    * TopKPerKey strategy self-registers on first use via
    * `experimental.extraStrategies` (see TopKPerKeyPlan), so no
    * session-build hook is needed for it. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
