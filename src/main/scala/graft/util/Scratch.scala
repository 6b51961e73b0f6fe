package graft.util

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** Per-JVM scratch space for operators that stage intermediate files
  * (partitioned rewrites, format round-trips, binary fixtures).
  *
  * A FIXED path under `java.io.tmpdir` is a race: overwrite-mode writes
  * delete-and-rewrite the directory, so two concurrent JVMs (bench +
  * sbt test, or two users on a shared host) sharing the name would pull
  * files out from under each other mid-scan — and stale subdirs from
  * older layouts would silently pollute a mergeSchema read. A per-JVM
  * random root isolates processes while keeping paths stable WITHIN a
  * process, so fixture writers stay idempotent and derived artifacts
  * (`derived`) still hit. On a cluster the analog is a job-scoped staging prefix on
  * shared storage.
  */
object Scratch {
  private lazy val root: Path = {
    gcStaleRoots()
    val p = Files.createTempDirectory("graft_scratch_")
    p.toFile.deleteOnExit()
    // heartbeat daemon: a long-lived JVM whose dir() calls all happened
    // at startup (paths cached in vals) would age past the sibling GC
    // cutoff even though it is alive — keep the root's mtime fresh
    // independently of call patterns. Daemon thread, so it never holds
    // the JVM open.
    val t = new java.util.Timer("graft-scratch-heartbeat", true)
    t.schedule(new java.util.TimerTask {
      override def run(): Unit = touch(p)
    }, heartbeatMs, heartbeatMs)
    p
  }
  private val heartbeatMs = 30L * 60 * 1000

  private def touch(p: Path): Unit =
    try Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch { case _: Exception => () } // heartbeat is best-effort

  /** Bound /tmp growth across runs: the populated root intentionally
    * survives JVM exit (a later out-of-process oracle pass may still
    * read its files — deleteOnExit only removes an empty dir), so each
    * NEW process best-effort deletes sibling roots older than 6 hours.
    * Recent roots stay; concurrent JVMs' live roots are kept young by
    * the dir()-call touch plus the 30-minute heartbeat daemon. */
  private def gcStaleRoots(): Unit =
    try {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
      Option(tmp.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("graft_scratch_")
          && f.lastModified() < cutoff)
        .foreach(f => deleteRecursively(f))
    } catch { case _: Exception => () } // GC is best-effort, never fatal

  /** Best-effort recursive delete (also the shared cleanup helper for
    * operators that stage their own side dirs — keep ONE copy of this
    * logic). */
  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** A named scratch directory under this JVM's private root (created
    * if absent; same name → same path within the process). Each call
    * also touches the root's mtime — with the heartbeat daemon this is
    * belt-and-braces against the sibling 6-hour GC. */
  def dir(name: String): String = {
    val d = root.resolve(name)
    Files.createDirectories(d)
    touch(root)
    d.toAbsolutePath.toString
  }

  /** A new, empty directory under this JVM's root on every call, named
    * `prefix` plus a random suffix: the home of a per-run table that a
    * query builds, reads back and rebuilds on its next run. Two runs never
    * share one, concurrent or not, whatever their input directories are
    * called (a name derived from the input dir would let `/x/sf0.1` and
    * `/x/sf0_1` collide). Each lives until the root goes, since the
    * query's result reads it lazily. */
  def fresh(prefix: String): String = {
    val d = Files.createTempDirectory(root, prefix + "_")
    touch(root)
    d.toAbsolutePath.toString
  }

  /** The one home for engine-owned DERIVED ARTIFACTS: tables a family of
    * queries would otherwise recompute from the same input, written once
    * by their first consumer and read by the rest. Returns the artifact's
    * path; `build` writes it there (the path does not exist when `build`
    * runs, and a failed build is retried by the next call).
    *
    * Key: `kind`, the raw `dir` string and a fingerprint of the `inputs`
    * (name, size and mtime of each input's files, from one listing per
    * input, no data read). A rewritten input changes the fingerprint, so
    * the next call builds a fresh artifact under a new path; the
    * superseded one stays until the root goes. The path is `kind` plus
    * the md5 of the whole key, so distinct directories or input states
    * share a path only on an md5 collision (~2^-128 per pair). A rewrite
    * that keeps every file's size and millisecond mtime is not seen.
    *
    * Lifetime: the per-JVM root. No artifact outlives its process, so a
    * later run never reads an earlier run's results. */
  def derived(s: SparkSession, kind: String, dir: String, inputs: Seq[String])(
      build: String => Unit): String = {
    val key = Seq(kind, dir, fingerprint(s, inputs)).mkString("\u0000")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    artifacts.computeIfAbsent(key,
      _ => new Artifact(root.resolve(s"${kind}_$md5").toString, build)).path
  }

  /** The lazy val is the per-key build lock: concurrent first consumers
    * wait for one build, and a build that throws leaves it unset. */
  private final class Artifact(out: String, build: String => Unit) {
    lazy val path: String = {
      deleteRecursively(new java.io.File(out)) // a failed build's leftovers
      build(out)
      touch(root)
      out
    }
  }
  private val artifacts =
    new java.util.concurrent.ConcurrentHashMap[String, Artifact]()

  private def fingerprint(s: SparkSession, inputs: Seq[String]): String =
    inputs.map { in =>
      val p = new org.apache.hadoop.fs.Path(in)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(p)
        .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        .sorted.mkString(s"$in[", ",", "]")
    }.mkString(";")

  /** Run-scoped STREAMING CHECKPOINT directory. Checkpoints here are
    * per-run temp dirs (created fresh, abandoned after the query), so
    * their durability was always bounded by the temp filesystem's —
    * placing them on tmpfs when the host offers it changes no
    * semantics and removes the per-micro-batch offset/commit/state
    * fsync-on-ext4 cost the streaming harness was paying (guide §6:
    * small-file churn hurts twice). A production stream sets a real
    * durable checkpointLocation explicitly and never comes through
    * here; SPARK_GRAFT_CKPT_TMP overrides (e.g. to a disk path) if a
    * run wants checkpoint I/O on the measurement path. Same 6-hour
    * sibling GC discipline as the scratch root. */
  private lazy val ckptBase: Path = {
    val base = sys.env.get("SPARK_GRAFT_CKPT_TMP")
      .map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.canWrite) Some(shm.toPath) else None
      }
      .getOrElse(java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir")))
    try {
      val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
      // PID embedded in the dir name (r15 advisor): an age-only cutoff
      // could delete a LIVE >6h session's active checkpoint mid-query —
      // skip dirs whose owning process is still alive (old-format dirs
      // without a pid still reap by age alone).
      val pidRe = "graft_ckpt_p(\\d+)_".r
      def ownerAlive(name: String): Boolean = pidRe.findFirstMatchIn(name)
        .exists(m => Files.isDirectory(
          java.nio.file.Paths.get("/proc", m.group(1))))
      Option(base.toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("graft_ckpt_")
          && f.lastModified() < cutoff && !ownerAlive(f.getName))
        .foreach(deleteRecursively)
    } catch { case _: Exception => () }
    base
  }

  def ckptDir(prefix: String): String =
    Files.createTempDirectory(ckptBase,
        s"graft_ckpt_p${ProcessHandle.current().pid()}_${prefix}_")
      .toAbsolutePath.toString
}
