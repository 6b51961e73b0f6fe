package graft

import graft.plans.NotesEnrichment
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.Random

class NotesEnrichmentSpec extends SparkSpec {

  private def fixture() = {
    import spark.implicits._
    val fact = Seq(
      ("BBNI", "PT BNI", 2023, 2, "Laporan Neraca", "Kas dan setara kas", 100.0, null.asInstanceOf[String]),
      ("BBNI", "PT BNI", 2023, 2, "Laporan Neraca", "Jumlah aset", 900.0, null.asInstanceOf[String]),
      ("BBNI", "PT BNI", 2023, 2, "Laporan Laba Rugi", "Laba bersih", 50.0, null.asInstanceOf[String]),
      ("TLKM", "PT Telkom", 2023, 2, "Laporan Neraca", "Kas dan setara kas", 7.0, null.asInstanceOf[String]),
    ).toDF("kode_emiten", "nama_emiten", "tahun", "quartal",
      "grup_laporan_keuangan", "item", "nilai", "notes")
    val lines = Seq(
      // line matches "Kas dan setara kas" by containment; next line is a multi-ref
      ("doc1", "BBNI", 2023, 2, "Laporan Neraca", 4, 0, "Kas dan setara"),
      ("doc1", "BBNI", 2023, 2, "Laporan Neraca", 4, 1, "2,3b"),
      // matches "Laba bersih"; ref is two lines ahead (lookahead-2)
      ("doc1", "BBNI", 2023, 2, "Laporan Laba Rugi", 9, 0, "Laba bersih"),
      ("doc1", "BBNI", 2023, 2, "Laporan Laba Rugi", 9, 1, "lihat catatan"),
      ("doc1", "BBNI", 2023, 2, "Laporan Laba Rugi", 9, 2, "14a"),
      // no fact row for this issuer+key -> no effect
      ("doc2", "UNVR", 2023, 2, "Laporan Neraca", 2, 0, "Kas dan setara"),
      ("doc2", "UNVR", 2023, 2, "Laporan Neraca", 2, 1, "9"),
    ).toDF("doc_id", "kode_emiten", "tahun", "quartal",
      "grup_laporan_keuangan", "page", "line_no", "text")
    (fact, lines)
  }

  test("golden: update + explode-insert + untouched rows") {
    val (fact, lines) = fixture()
    val out = NotesEnrichment.enrich(fact, lines).collect()
      .map(r => (r.getString(0), r.getString(5), r.getString(7), r.getDouble(6))).toSet
    assert(out == Set(
      ("BBNI", "Kas dan setara kas", "2", 100.0),   // token 0 updates
      ("BBNI", "Kas dan setara kas", "3b", 0.0),    // token 1 inserts zero-value row
      ("BBNI", "Laba bersih", "14a", 50.0),         // lookahead-2 hit
      ("BBNI", "Jumlah aset", null, 900.0),         // untouched
      ("TLKM", "Kas dan setara kas", null, 7.0),    // other issuer untouched
    ))
  }

  test("note pattern accepts reference shapes and rejects noise") {
    import spark.implicits._
    val ok = Seq("2", "14", "2a", "2,3b", "1,2,3", "10,11a")
    val bad = Seq("", "abc", "2x3", "123", "2,3b,", "lihat catatan", "a2")
    val df = (ok.map((_, true)) ++ bad.map((_, false))).toDF("s", "want")
    val got = df.withColumn("is", col("s").rlike(NotesEnrichment.notePattern))
    assert(got.filter(col("is") =!= col("want")).count() == 0)
  }

  test("identical fact rows keep their cardinality and each gets the note") {
    import spark.implicits._
    val fact = Seq(
      ("BBNI", "PT BNI", 2023, 2, "Laporan Neraca", "Kas dan setara kas", 100.0, null.asInstanceOf[String]),
      ("BBNI", "PT BNI", 2023, 2, "Laporan Neraca", "Kas dan setara kas", 100.0, null.asInstanceOf[String]),
    ).toDF("kode_emiten", "nama_emiten", "tahun", "quartal",
      "grup_laporan_keuangan", "item", "nilai", "notes")
    val lines = Seq(
      ("doc1", "BBNI", 2023, 2, "Laporan Neraca", 4, 0, "Kas dan setara"),
      ("doc1", "BBNI", 2023, 2, "Laporan Neraca", 4, 1, "7"),
    ).toDF("doc_id", "kode_emiten", "tahun", "quartal",
      "grup_laporan_keuangan", "page", "line_no", "text")
    val out = NotesEnrichment.enrich(fact, lines)
    assert(out.count() == 2, "a double-loaded row must not collapse")
    assert(out.filter(col("notes") === "7").count() == 2, "UPDATE touches every matching row")
  }

  test("enrichment is row-conserving modulo inserts") {
    val (fact, lines) = fixture()
    val out = NotesEnrichment.enrich(fact, lines)
    val inserts = out.filter(col("nilai") === 0.0 && col("notes").isNotNull).count()
    assert(out.count() == fact.count() + inserts)
  }

  test("plan: equi-keys drive a hash join; containment is a residual, not a nested loop") {
    val (fact, lines) = fixture()
    val plan = planOf(NotesEnrichment.enrich(fact, lines))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("one-pass enrich equals the three-branch oracle on seeded random fixtures") {
    for (seed <- 1 to 6) {
      val (fact, lines) = randomFixture(seed)
      val got = NotesEnrichment.enrich(fact, lines)
      val want = NotesEnrichmentSpec.threeBranchEnrich(fact, lines)
      assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
      assert(exact(got.collect()) == exact(want.collect()), s"seed $seed")
    }
  }

  test("an updated or untouched row keeps -0.0 and NaN values as they were") {
    import spark.implicits._
    val fact = Seq(
      ("BBNI", "PT BNI", 2023, 2, "Laporan Neraca", "Kas dan setara kas", -0.0, null.asInstanceOf[String]),
      ("BBNI", "PT BNI", 2023, 2, "Laporan Neraca", "Jumlah aset", -0.0, null.asInstanceOf[String]),
      ("BBNI", "PT BNI", 2023, 2, "Laporan Neraca", "Kas dan setara kas", Double.NaN, null.asInstanceOf[String]),
    ).toDF("kode_emiten", "nama_emiten", "tahun", "quartal",
      "grup_laporan_keuangan", "item", "nilai", "notes")
    val (_, lines) = fixture()
    val got = NotesEnrichment.enrich(fact, lines).collect()
      .map(r => (r.getString(5), r.getString(7), java.lang.Double.doubleToLongBits(r.getDouble(6))))
    val bits = java.lang.Double.doubleToLongBits _
    assert(got.sorted.toSeq == Seq(
      ("Jumlah aset", null, bits(-0.0)),
      ("Kas dan setara kas", "2", bits(-0.0)),
      ("Kas dan setara kas", "2", bits(Double.NaN)),
      ("Kas dan setara kas", "3b", bits(0.0)),
      ("Kas dan setara kas", "3b", bits(0.0)),
    ).sorted)
  }

  test("the fixtures cover every case the parity claim rests on") {
    val rows = (1 to 6).flatMap(seed => randomFixture(seed)._1.collect())
    val nilai = rows.filterNot(_.isNullAt(6)).map(_.getDouble(6))
    assert(nilai.exists(d => d == 0.0 && 1 / d < 0), "-0.0")
    assert(nilai.exists(_.isNaN), "NaN")
    assert(rows.groupBy(identity).exists(_._2.size > 1), "exact duplicates")
    assert(rows.exists(r => Seq(0, 2, 4, 5).exists(r.isNullAt)), "null key or item")
    assert(rows.exists(r => !r.isNullAt(7)), "non-null input notes")
    val out = (1 to 6).flatMap { seed =>
      val (fact, lines) = randomFixture(seed)
      NotesEnrichment.enrich(fact, lines).collect()
    }
    assert(out.exists(r => !r.isNullAt(7) && r.getString(7) == "4"), "third token of 2,3b,4")
    assert(out.exists(r => r.isNullAt(7)), "unmatched facts")
  }

  test("plan: each input scanned once, nothing cached, exchanges bounded") {
    val root = java.nio.file.Files.createTempDirectory("notes_plan").toString
    val (f, l) = fixture()
    f.write.parquet(s"$root/fact")
    l.write.parquet(s"$root/lines")
    val df = NotesEnrichment.enrich(spark.read.parquet(s"$root/fact"),
      spark.read.parquet(s"$root/lines"))
    val plan = df.queryExecution.executedPlan
    object P extends AdaptiveSparkPlanHelper
    val scans = P.collect(plan) { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.getName).mkString }
    assert(scans.sorted == Seq("fact", "lines"), plan)
    assert(P.collect(plan) { case c: InMemoryTableScanExec => c }.isEmpty, plan)
    assert(!df.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"))
    // fact by statement key, the lookahead window, and the lines' join
    // side unless it is broadcast (this fixture: 2). The three-branch
    // oracle below plans 9 exchanges and 7 scans for the same inputs.
    assert(P.collect(plan) { case e: ShuffleExchangeExec => e }.size <= 3, plan)
    graft.util.Scratch.deleteRecursively(new java.io.File(root))
  }

  /** Multiset of rows with each double replaced by its bits, so -0.0 and
    * 0.0 differ and every NaN equals every other. */
  private def exact(rows: Array[Row]): Map[Seq[Any], Int] =
    rows.toSeq.map(_.toSeq.map {
      case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
      case v => v
    }).groupBy(identity).map { case (k, v) => k -> v.size }

  /** Fact rows and statement lines drawn from small pools so that keys
    * collide: exact duplicates, several matching lines per row,
    * three-token refs, unmatched rows, lines of absent issuers, null
    * keys, items and texts, non-null input notes, -0.0 and NaN. */
  private def randomFixture(seed: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new Random(seed)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    def maybeNull[T >: Null](v: T): T = if (rnd.nextInt(12) == 0) null else v
    val issuers = Seq("BBNI", "TLKM", "ASII")
    val groups = Seq("Laporan Neraca", "Laporan Laba Rugi")
    val items = Seq("Kas dan setara kas", "Jumlah aset", "Laba bersih",
      "Piutang usaha", "Beban pokok pendapatan", "KAS DAN SETARA KAS")
    val base = (1 to 40).map { _ =>
      val issuer = maybeNull(pick(issuers: _*))
      (issuer, maybeNull(if (issuer == null) null else s"PT $issuer"),
        maybeNull(Integer.valueOf(pick(2022, 2023))), Integer.valueOf(pick(1, 2)),
        maybeNull(pick(groups: _*)), maybeNull(pick(items: _*)),
        java.lang.Double.valueOf(pick(100.0, -0.0, 0.0, Double.NaN, 7.5, -3.25)),
        if (rnd.nextInt(5) == 0) pick("1", "9z") else null)
    }
    val factRows = base.flatMap(r => Seq.fill(if (rnd.nextInt(4) == 0) 2 + rnd.nextInt(2) else 1)(r))
    val fact = rnd.shuffle(factRows).toDF("kode_emiten", "nama_emiten", "tahun", "quartal",
      "grup_laporan_keuangan", "item", "nilai", "notes")
    val texts = Seq("Kas", "kas dan setara", "Jumlah aset", "Laba", "Piutang usaha",
      "lihat catatan", "2", "3b", "2,3b,4", "14a", "10,11a", "Beban")
    val lineRows = for {
      issuer <- issuers :+ "UNVR"
      year <- Seq(2022, 2023)
      g <- groups
      doc = s"$issuer-$year-${g.length}"
      n <- 0 until 14
    } yield (doc, issuer, Integer.valueOf(year), Integer.valueOf(1 + n % 2), g,
      n / 7, n % 7, maybeNull(pick(texts: _*)))
    val lines = lineRows.toDF("doc_id", "kode_emiten", "tahun", "quartal",
      "grup_laporan_keuangan", "page", "line_no", "text")
    (fact, lines)
  }
}

object NotesEnrichmentSpec {

  private val factKey = Seq("kode_emiten", "tahun", "quartal", "grup_laporan_keuangan")

  /** The former three-branch enrich, kept as the parity oracle: matched
    * rows feed an updated and an inserted branch, and the untouched rows
    * are the fact rows anti-joined against the updated ones, with a
    * `_dup` row number keeping exact duplicates apart. Two edits, neither
    * changing which rows match: its shared fact input is no longer
    * persisted, and `matched` groups `nilai` on its string form. Grouping
    * on the double itself normalized a matched row's -0.0 to 0.0, so an
    * update that only sets `notes` also rewrote the value's sign. */
  def threeBranchEnrich(fact: DataFrame, lines: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("doc_id"), col("grup_laporan_keuangan"))
      .orderBy(col("page"), col("line_no"))
    val withNote = lines
      .withColumn("n1", lead(col("text"), 1).over(w))
      .withColumn("n2", lead(col("text"), 2).over(w))
      .withColumn("note_ref",
        when(col("n1").rlike(NotesEnrichment.notePattern), col("n1"))
          .when(col("n2").rlike(NotesEnrichment.notePattern), col("n2")))
      .filter(col("note_ref").isNotNull)
      .select(factKey.map(col) :+ col("text") :+ col("note_ref"): _*)
    val wDup = Window.partitionBy((factKey :+ "item").map(col): _*)
      .orderBy(col("nama_emiten"), col("nilai"), col("notes"))
    val factU = fact.withColumn("_dup", row_number().over(wDup))
    val matched = factU.join(withNote,
        factKey.map(k => factU(k) === withNote(k)).reduce(_ && _) &&
          lower(factU("item")).contains(lower(withNote("text"))))
      .select(factU("*"), withNote("note_ref"), withNote("text"))
      .groupBy(factU.columns.filter(_ != "nilai").map(factU(_)) :+
        factU("nilai").cast("string").as("_exact_nilai"): _*)
      .agg(first(factU("nilai")).as("nilai"), min(struct(col("text"), col("note_ref"))).as("m"))
      .withColumn("note_ref", col("m.note_ref")).drop("m", "_exact_nilai")
    val exploded = matched
      .select(col("*"), posexplode(split(col("note_ref"), ",")).as(Seq("tok_pos", "tok")))
    val updated = exploded.filter(col("tok_pos") === 0)
      .withColumn("notes", col("tok"))
      .drop("note_ref", "tok_pos", "tok")
    val inserted = exploded.filter(col("tok_pos") > 0)
      .withColumn("notes", col("tok"))
      .withColumn("nilai", lit(0.0))
      .drop("note_ref", "tok_pos", "tok")
    val untouched = factU.join(updated,
      (factKey :+ "item" :+ "_dup").map(k => factU(k) === updated(k)).reduce(_ && _),
      "left_anti")
    untouched.unionByName(updated).unionByName(inserted).drop("_dup")
  }
}
