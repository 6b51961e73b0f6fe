package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, XxHash64}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Catalyst-integrated scan of a [[VersionedTable]] snapshot — the
  * Delta/Iceberg architecture (a custom `FileIndex` under a
  * `HadoopFsRelation`) instead of a union of per-commit-dir scans:
  *
  *   - ONE `FileSourceScan` node however many commit dirs the snapshot
  *     spans (after N merges the union form fans out to N branches,
  *     each its own scan with its own task floor — the index collapses
  *     them, and Spark's production parquet reader brings vectorized
  *     decode, row-group min/max pushdown, and nested-column pruning
  *     for free);
  *   - BUCKET PRUNING FROM DECLARATIVE PREDICATES: `listFiles` receives
  *     the query's pushed data filters at execution time, so
  *     `read(...).filter($"k" === 42)` reads the ONE bucket that key
  *     hashes to — on a 100 TB table, one file — without the caller
  *     ever knowing the table is bucketed ([[candidateBuckets]]; the
  *     explicit-batch form of the same pruning is `lookup`);
  *   - SCHEMA EVOLUTION at read: the relation's data schema is the
  *     snapshot's (widest) schema; commit dirs written before a
  *     widening read through Spark 4's parquet type-widening (int
  *     files under a long column) and absent columns null-fill, so one
  *     scan serves mixed-generation files — asserted equal to the
  *     union-path read in VersionedScanSpec.
  *
  * The `execution.datasources` types used here are the stable-in-
  * practice connector surface every lakehouse format builds on (Delta's
  * TahoeFileIndex is this exact shape); this file and SqlBridge are the
  * engine's only uses of non-public API, both documented.
  *
  * Reference anchor: the reference serves its loaded facts back by
  * per-key SQL point reads (mainTesting.py:99-115); `read` + a key
  * predicate is that serving path on the versioned store, pruned to
  * one bucket instead of one remote round trip per line.
  */
object VersionedScan {

  /** Build the FileIndex-backed DataFrame for one snapshot —
    * `VersionedTable.read`/`lookup` are the public entry points (one
    * read path, no duplicate to keep in sync). */
  private[sources] def relation(spark: SparkSession, path: String,
      sn: VersionedTable.Snapshot, buckets: Option[Set[Int]]): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.baseRelationToDataFrame(baseRelation(spark, path, sn, buckets))
  }

  /** The relation itself — shared by [[relation]] and the
    * `format("graft")` [[GraftTableProvider]], so the DSv1 surface and
    * the programmatic read plan through ONE FileIndex implementation. */
  private[sources] def baseRelation(spark: SparkSession, path: String,
      sn: VersionedTable.Snapshot,
      buckets: Option[Set[Int]]): HadoopFsRelation = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val idx = new VersionedFileIndex(spark, path, sn, buckets)
    HadoopFsRelation(
      location = idx,
      partitionSchema = new StructType(),
      dataSchema = sn.schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(classic)
  }

  /** Buckets that can possibly hold rows satisfying `filters` (a
    * conjunction), or None when the filters don't pin every key column
    * to a finite literal set — pruning must be SOUND, so anything not
    * provably bucket-restricting reads everything.
    *
    * A filter contributes only when it constrains a key column to
    * literals OF THE COLUMN'S EXACT TYPE (an `int_lit = bigint_col`
    * comparison arrives wrapped in casts and hashes differently, so it
    * is skipped rather than mis-pruned). Multiple constraints on one
    * key intersect; multi-key tables prune only when every key is
    * constrained (the bucket is a hash of ALL keys), via the cartesian
    * of the per-key sets, capped at [[maxCombos]] combos. Contradictory
    * equalities yield Some(Set.empty) — a scan of zero files. The
    * per-tuple hash is the driver-side twin of
    * [[VersionedTable.bucketOf]], evaluated on the literals. */
  private[graft] def candidateBuckets(filters: Seq[Expression],
      keyCols: Seq[String], keyTypes: Map[String, org.apache.spark.sql.types.DataType],
      numBuckets: Int): Option[Set[Int]] = {
    val conjuncts = filters.flatMap(splitAnd)
    // per-key intersection of literal constraint sets
    val constraints = scala.collection.mutable.Map[String, Set[Literal]]()
    conjuncts.foreach { c =>
      constraintOf(c, keyTypes).foreach { case (k, lits) =>
        constraints(k) = constraints.get(k) match {
          case Some(prev) =>
            // intersect via Literal.equals, NOT raw value equality —
            // Literal handles Array[Byte] content comparison, where
            // _.value == would compare array references and unsoundly
            // empty the intersection for equal-content binary keys
            prev.filter(p => lits.exists(_ == p))
          case None => lits
        }
      }
    }
    if (!keyCols.forall(constraints.contains)) None
    else {
      val sets = keyCols.map(constraints)
      val combos = sets.map(_.size.toLong).product
      if (combos == 0L) Some(Set.empty)
      else if (combos > maxCombos) None
      else Some(
        sets.foldLeft(Seq(Seq.empty[Literal])) { (acc, s) =>
          acc.flatMap(tuple => s.toSeq.map(tuple :+ _))
        }.map { tuple =>
          val h = new XxHash64(tuple).eval(InternalRow.empty).asInstanceOf[Long]
          java.lang.Math.floorMod(h, numBuckets.toLong).toInt
        }.toSet)
    }
  }

  private val maxCombos = 4096L

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** DATA-SKIPPING intervals from the pushed filters: column →
    * [lo, hi] in BigDecimal (sound at any magnitude — a Long→Double
    * round at 2^63 could mis-prune), for columns whose manifest stats
    * exist. Each range/equality/IN conjunct on an exact-type literal
    * contributes one interval; multiple conjuncts on a column
    * intersect. Anything else (casts, functions, IsNull, strings)
    * contributes nothing — a file is only skipped when its recorded
    * [min, max] provably misses EVERY interval-constrained conjunct. */
  private[sources] def statsIntervals(filters: Seq[Expression],
      statsCols: Map[String, org.apache.spark.sql.types.DataType])
      : Map[String, (BigDecimal, BigDecimal)] = {
    def num(l: Literal): Option[BigDecimal] = l.value match {
      case null => None
      case i: java.lang.Integer => Some(BigDecimal(i.intValue))
      case j: java.lang.Long => Some(BigDecimal(j.longValue))
      case s: java.lang.Short => Some(BigDecimal(s.intValue))
      case b: java.lang.Byte => Some(BigDecimal(b.intValue))
      case d: java.lang.Double =>
        if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d.doubleValue))
      case _ => None
    }
    val inf = BigDecimal("1e9999")
    def bound(a: AttributeReference, l: Literal): Option[BigDecimal] =
      statsCols.get(a.name).filter(_ == l.dataType).flatMap(_ => num(l))
    val acc = scala.collection.mutable.Map[String, (BigDecimal, BigDecimal)]()
    def add(col: String, lo: BigDecimal, hi: BigDecimal): Unit = {
      val (plo, phi) = acc.getOrElse(col, (-inf, inf))
      acc(col) = (plo.max(lo), phi.min(hi))
    }
    filters.flatMap(splitAnd).foreach {
      // inclusive bounds throughout: file-level stats cannot see
      // whether the endpoint row actually matches a strict inequality,
      // so < and <= prune identically (sound, one fewer case to hold)
      case EqualTo(a: AttributeReference, l: Literal) =>
        bound(a, l).foreach(v => add(a.name, v, v))
      case EqualTo(l: Literal, a: AttributeReference) =>
        bound(a, l).foreach(v => add(a.name, v, v))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        bound(a, l).foreach(v => add(a.name, v, inf))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        bound(a, l).foreach(v => add(a.name, v, inf))
      case LessThan(a: AttributeReference, l: Literal) =>
        bound(a, l).foreach(v => add(a.name, -inf, v))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        bound(a, l).foreach(v => add(a.name, -inf, v))
      // literal-first mirrors flip the direction
      case GreaterThan(l: Literal, a: AttributeReference) =>
        bound(a, l).foreach(v => add(a.name, -inf, v))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        bound(a, l).foreach(v => add(a.name, -inf, v))
      case LessThan(l: Literal, a: AttributeReference) =>
        bound(a, l).foreach(v => add(a.name, v, inf))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        bound(a, l).foreach(v => add(a.name, v, inf))
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        val bs = vs.map(v => bound(a, v.asInstanceOf[Literal]))
        if (bs.nonEmpty && bs.forall(_.isDefined)) {
          val nums = bs.map(_.get)
          add(a.name, nums.min, nums.max) // envelope: sound superset
        }
      // the optimizer converts IN lists past inSetConversionThreshold
      // (default 10) to InSet over RAW internal values — without this
      // arm an 11-element list silently stops file-pruning while a
      // 10-element one prunes (the bucket-pruning constraintOf below
      // handles the same shape)
      case InSet(a: AttributeReference, vs) =>
        val bs = vs.toSeq.map(v => bound(a, Literal(v, a.dataType)))
        if (bs.nonEmpty && bs.forall(_.isDefined)) {
          val nums = bs.map(_.get)
          add(a.name, nums.min, nums.max)
        }
      case _ => ()
    }
    acc.toMap
  }

  /** Unsigned UTF-8 byte comparison — the order parquet footers use
    * for UTF8 min/max and the order Spark's binary collation sorts by.
    * Comparing the re-encoded bytes (not java.lang.String's UTF-16
    * code units) keeps the overlap test sound beyond the BMP. */
  private[sources] def u8cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** DATA-SKIPPING intervals for STRING columns: column → [lo, hi] in
    * unsigned UTF-8 byte order, None = unbounded on that side. Same
    * conjunct shapes as [[statsIntervals]]; only exact StringType
    * literals contribute (a cast never reaches here — Catalyst wraps
    * mismatched types, and the AttributeReference arm won't match).
    * This is the reference's commonest filter shape — ticker/issuer
    * code equality (mainTesting.py:365-369) — finally pruning files. */
  private[sources] def stringIntervals(filters: Seq[Expression],
      statsCols: Map[String, org.apache.spark.sql.types.DataType])
      : Map[String, (Option[String], Option[String])] = {
    def str(a: AttributeReference, l: Literal): Option[String] =
      statsCols.get(a.name)
        .filter(t => t == org.apache.spark.sql.types.StringType &&
          l.dataType == org.apache.spark.sql.types.StringType &&
          l.value != null)
        .map(_ => l.value.toString)
    val acc = scala.collection.mutable.Map[String, (Option[String], Option[String])]()
    def add(col: String, lo: Option[String], hi: Option[String]): Unit = {
      val (plo, phi) = acc.getOrElse(col,
        (None: Option[String], None: Option[String]))
      val nlo = (plo, lo) match {
        case (Some(a), Some(b)) => Some(if (u8cmp(a, b) >= 0) a else b)
        case (a, b) => a.orElse(b)
      }
      val nhi = (phi, hi) match {
        case (Some(a), Some(b)) => Some(if (u8cmp(a, b) <= 0) a else b)
        case (a, b) => a.orElse(b)
      }
      acc(col) = (nlo, nhi)
    }
    filters.flatMap(splitAnd).foreach {
      // strict and non-strict prune identically (file stats can't see
      // whether the endpoint row matches), same as the numeric path
      case EqualTo(a: AttributeReference, l: Literal) =>
        str(a, l).foreach(v => add(a.name, Some(v), Some(v)))
      case EqualTo(l: Literal, a: AttributeReference) =>
        str(a, l).foreach(v => add(a.name, Some(v), Some(v)))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        str(a, l).foreach(v => add(a.name, Some(v), None))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        str(a, l).foreach(v => add(a.name, Some(v), None))
      case LessThan(a: AttributeReference, l: Literal) =>
        str(a, l).foreach(v => add(a.name, None, Some(v)))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        str(a, l).foreach(v => add(a.name, None, Some(v)))
      case GreaterThan(l: Literal, a: AttributeReference) =>
        str(a, l).foreach(v => add(a.name, None, Some(v)))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        str(a, l).foreach(v => add(a.name, None, Some(v)))
      case LessThan(l: Literal, a: AttributeReference) =>
        str(a, l).foreach(v => add(a.name, Some(v), None))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        str(a, l).foreach(v => add(a.name, Some(v), None))
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        val bs = vs.map(v => str(a, v.asInstanceOf[Literal]))
        if (bs.nonEmpty && bs.forall(_.isDefined)) {
          val ss = bs.map(_.get)
          add(a.name, Some(ss.min(Ordering.fromLessThan[String](u8cmp(_, _) < 0))),
            Some(ss.max(Ordering.fromLessThan[String](u8cmp(_, _) < 0))))
        }
      case InSet(a: AttributeReference, vs) =>
        val bs = vs.toSeq.map(v => str(a, Literal(v, a.dataType)))
        if (bs.nonEmpty && bs.forall(_.isDefined)) {
          val ss = bs.map(_.get)
          add(a.name, Some(ss.min(Ordering.fromLessThan[String](u8cmp(_, _) < 0))),
            Some(ss.max(Ordering.fromLessThan[String](u8cmp(_, _) < 0))))
        }
      case _ => ()
    }
    acc.toMap
  }

  /** One conjunct → (key column, allowed literal set), when it is an
    * exact-type equality/IN on a key column. A null literal in an
    * equality matches no row (keys are non-null by the merge contract),
    * which the empty-set intersection handles naturally. */
  private def constraintOf(e: Expression,
      keyTypes: Map[String, org.apache.spark.sql.types.DataType])
      : Option[(String, Set[Literal])] = {
    def keyed(a: AttributeReference, lits: Seq[Literal]) =
      keyTypes.get(a.name)
        .filter(t => lits.nonEmpty && lits.forall(l => l.dataType == t && l.value != null))
        .map(_ => a.name -> lits.toSet)
    e match {
      case EqualTo(a: AttributeReference, l: Literal) => keyed(a, Seq(l))
      case EqualTo(l: Literal, a: AttributeReference) => keyed(a, Seq(l))
      case EqualNullSafe(a: AttributeReference, l: Literal) => keyed(a, Seq(l))
      case EqualNullSafe(l: Literal, a: AttributeReference) => keyed(a, Seq(l))
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        keyed(a, vs.map(_.asInstanceOf[Literal]))
      case InSet(a: AttributeReference, vs) =>
        keyed(a, vs.toSeq.map(v => Literal(v, a.dataType)))
      case _ => None
    }
  }
}

/** File listing for one snapshot: manifest owners → `kb=<bucket>`
  * subdirs of immutable commit dirs, listed lazily per bucket.
  * `bucketsOverride` pre-restricts the index (the `lookup` path);
  * query-time pruning happens per-`listFiles` call from the pushed
  * data filters. */
private[sources] class VersionedFileIndex(spark: SparkSession, path: String,
    sn: VersionedTable.Snapshot, bucketsOverride: Option[Set[Int]])
    extends FileIndex {

  private val root = new HPath(path)
  private val fs =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Buckets this index may serve (`bucketsOverride` pre-restricts —
    * the lookup path). */
  private val liveBuckets: Seq[Int] = sn.owners.keys.toSeq.sorted
    .filter(b => bucketsOverride.forall(_.contains(b)))

  /** Per-bucket listing, LAZY and memoized: a pruned point read lists
    * only its candidate buckets (O(keys) driver round trips, not
    * O(numBuckets)) — on object storage the listing RPCs would
    * otherwise dominate the advertised one-file serve. Commit dirs are
    * immutable, so a memoized listing never goes stale for THIS
    * snapshot. `inputFiles`/`sizeInBytes` force the full listing (the
    * planner asks for stats on join-shaped plans; a plain
    * scan-filter-collect never does). */
  private val listed = scala.collection.mutable.HashMap[Int, Seq[FileStatus]]()
  private def filesOf(b: Int): Seq[FileStatus] = synchronized {
    listed.getOrElseUpdate(b, {
      val d = new HPath(root, s"${sn.owners(b)}/${VersionedTable.KB}=$b")
      if (fs.exists(d)) fs.listStatus(d).toSeq.filter(s => s.isFile &&
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      else Seq.empty
    })
  }

  private val keyTypes = sn.keyCols.map(k => k -> sn.schema(k).dataType).toMap

  override def rootPaths: Seq[HPath] = Seq(root)

  override def partitionSchema: StructType = new StructType()

  /** Columns the manifest carries stats for (any file), with their
    * schema types — the domain `statsIntervals` may constrain. */
  private val statsColTypes: Map[String, org.apache.spark.sql.types.DataType] =
    sn.fileStats.valuesIterator.flatMap(_.keysIterator).toSet
      .flatMap((c: String) => sn.schema.fields.find(_.name == c)
        .map(f => c -> f.dataType)).toMap

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pruned = VersionedScan.candidateBuckets(
      dataFilters, sn.keyCols, keyTypes, sn.numBuckets)
    val buckets = pruned match {
      case Some(bs) => liveBuckets.filter(bs)
      case None => liveBuckets
    }
    // DATA SKIPPING: drop a file when its recorded [min, max] provably
    // misses an interval the pushed filters pin — un-stat'd files and
    // columns always survive (sound default), so merge-written files
    // simply read until the next chunked compaction re-stats them
    val intervals =
      if (statsColTypes.isEmpty) Map.empty[String, (BigDecimal, BigDecimal)]
      else VersionedScan.statsIntervals(dataFilters, statsColTypes)
    val strIntervals =
      if (statsColTypes.isEmpty)
        Map.empty[String, (Option[String], Option[String])]
      else VersionedScan.stringIntervals(dataFilters, statsColTypes)
    def survives(b: Int, st: FileStatus): Boolean =
      (intervals.isEmpty && strIntervals.isEmpty) || {
        val rel = s"${sn.owners(b)}/${VersionedTable.KB}=$b/${st.getPath.getName}"
        sn.fileStats.get(rel) match {
          case None => true
          case Some(cols) => intervals.forall { case (c, (lo, hi)) =>
            cols.get(c) match {
              case None => true
              case Some((mnS, mxS)) =>
                // defensive: a manifest written before non-finite endpoints
                // were invalidated (or by hand) may hold "Infinity"/"NaN";
                // an unparseable endpoint must never prune, only not help
                try {
                  val mn = BigDecimal(mnS); val mx = BigDecimal(mxS)
                  mx >= lo && mn <= hi // ranges overlap → might match
                } catch { case _: NumberFormatException => true }
            }
          } && strIntervals.forall { case (c, (lo, hi)) =>
            cols.get(c) match {
              case None => true
              case Some((mnS, mxS)) =>
                // manifest endpoints may be TRUNCATED (min a prefix,
                // max widened) — still a superset range, so the same
                // overlap test stays sound, in unsigned UTF-8 order
                lo.forall(l => VersionedScan.u8cmp(mxS, l) >= 0) &&
                  hi.forall(h => VersionedScan.u8cmp(mnS, h) <= 0)
            }
          }
        }
      }
    Seq(PartitionDirectory(InternalRow.empty,
      buckets.flatMap(b => filesOf(b).filter(survives(b, _)))
        .map(FileStatusWithMetadata(_, Map.empty))))
  }

  override def inputFiles: Array[String] =
    liveBuckets.flatMap(filesOf).map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long =
    liveBuckets.flatMap(filesOf).map(_.getLen).sum
}
