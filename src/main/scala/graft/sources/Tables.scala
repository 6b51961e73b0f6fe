package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders for the driver test data (TESTDATA.md).
  *
  * All engine queries take a scale-factor directory and read these tables;
  * schemas are fixed (FIXTURES.md §A). Filters/projections applied downstream
  * are pushed into the parquet scan by Catalyst (verify via
  * `.explain("formatted")` → `PushedFilters`/`ReadSchema`), so at 100 TB the
  * scan reads only the row groups and columns a query needs.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(path(dir, name))

  /** Where table `name` of a scale-factor directory lives. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Split-starved-scan fix: parquet splits at ROW-GROUP granularity, so
    * a single-row-group file reads as ONE task no matter how small
    * `files.maxPartitionBytes` is — and everything between that scan and
    * the first shuffle (shingling, md5, regex scoring, JSON parsing)
    * runs single-threaded while the other cores idle (measured 7.2 s ->
    * 0.6 s on the sf0.1 shingle pipeline at local[32]). When the scan
    * has fewer partitions than the session's parallelism, one
    * round-robin shuffle of the (pruned, filter-pushed — Catalyst moves
    * deterministic predicates below a Repartition) scan output spreads
    * rows across all cores; on a production table with thousands of row
    * groups the guard makes this a passthrough, so the helper never
    * costs a shuffle at the 100 TB scale it exists to protect. Callers
    * are the operators whose per-row compute dominates scan cost;
    * scan-bound relational queries keep the scan's native layout.
    *
    * The guard decides from TOTAL SCAN BYTES first (driver-side stats
    * off the file index — no planning pass): parquet splits by byte
    * ranges capped at `maxPartitionBytes`, so total bytes >= cores x
    * maxPartitionBytes guarantees >= cores byte-range splits; a sampled
    * footer read (see `estimatedRowGroups`) then confirms enough row
    * groups exist to make those splits non-empty — covering the
    * giant-row-group writer whose midpoints land in few splits. With
    * both checks passing, the 100 TB path is a passthrough costing one
    * driver-side footer read. Neither file count nor byte total alone is safe on
    * the small side (many tiny files can pack into few partitions via
    * maxSplitBytes/openCostInBytes; one small file is one task no
    * matter the conf), so only small-bytes layouts pay a one-off
    * `.rdd` physical-planning probe of the real partition count —
    * cheap exactly where it happens, on test-sized scans. SourcesSpec
    * pins the round-robin, passthrough, and packed-tiny-files
    * branches. */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val nFiles = df.inputFiles.length
    // non-file-backed plans (in-memory, JDBC, views) report zero input
    // files; for those, fall back to the physical partition count so
    // the skew guard still fires — the .rdd planning cost only applies
    // off the hot file-scan path
    if (nFiles == 0) {
      if (df.rdd.getNumPartitions < p) df.repartition(p) else df
    } else {
      val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes",
          s"${128L * 1024 * 1024}"))
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      // bytes >= p x maxPartitionBytes guarantees >= p byte-range
      // SPLITS — but a split only does work if a row-group MIDPOINT
      // lands in it, so a writer using row groups larger than
      // maxPartitionBytes (foreign writers default up to 1 GB) still
      // starves the scan. One driver-side footer read of the first
      // file (KBs, cheaper than a planning probe) estimates total row
      // groups; only when even that says "fewer row groups than cores"
      // does the big-bytes branch repartition.
      if (bytes >= BigInt(p) * maxPart) {
        if (estimatedRowGroups(df, nFiles) >= p) df else df.repartition(p)
      }
      else if (df.rdd.getNumPartitions < p) df.repartition(p)
      else df
    }
  }

  /** Total-row-group estimate from ONE sampled parquet footer
    * (rowGroups(first file) x nFiles — footers of a 100 TB table are a
    * job of their own, and uniform writers dominate in practice). For
    * non-parquet file sources (csv/json — line-split, no row-group
    * starvation possible) the footer read fails and the estimate is
    * "plenty", preserving passthrough. */
  private def estimatedRowGroups(df: DataFrame, nFiles: Int): Long =
    try {
      val first = new org.apache.hadoop.fs.Path(df.inputFiles.head)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(first, df.sparkSession.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRowGroups.size.toLong * nFiles finally r.close()
    } catch { case _: Exception => Long.MaxValue }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` has shipped in two physical layouts across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects unless `legacy.parquet.nanosAsLong` surfaces it as a
    * raw long (set at session build time by GraftSession; a reader must
    * not mutate config as a side effect) — and native TIMESTAMP(MICROS)
    * with isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ.
    * `normalizeTs` dispatches on the OBSERVED column type rather than
    * assuming a layout, so the engine reads both generations and always
    * surfaces the same logical schema: a session-TZ TimestampType `ts`
    * truncated to micros. The session runs in UTC (GraftSession), so the
    * NTZ→LTZ cast is a pure relabeling of the same instant and the DuckDB
    * oracle (which reads the naive micros directly) hashes identically.
    * DuckDB oracle SQL must not depend on sub-microsecond precision
    * (event spacing is seconds, so nothing does). */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"))

  /** Normalize an events-shaped frame's `ts` to TimestampType regardless
    * of which physical layout it was read from. Shared by the batch
    * loader and the streaming harness (queries/Eventing.runStreamed),
    * whose file-stream source reads the same files. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => // legacy TIMESTAMP(NANOS) read as raw nanos
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => // native micros, naive — relabel in UTC
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => sys.error(s"events.ts has unsupported type $other")
    }
  }
  /** Documents feed per-row-compute-heavy operators (shingling, simhash
    * votes, marker regexes) almost exclusively — spread at the source so
    * every consumer parallelizes past the single-row-group test files. */
  def documents(s: SparkSession, d: String): DataFrame =
    spread(table(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
