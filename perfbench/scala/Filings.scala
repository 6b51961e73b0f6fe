package org.apache.spark.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.plans.{CalkLine, CalkParser, FactPipeline, NotesEnrichment}
import graft.sources.{Pdf, VersionedTable, Xlsx}
import graft.sources.Xlsx.W
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One generated statement line: `item` None is a blank item cell,
  * `value` None a blank value cell; `note` is the reference the PDF
  * prints next to the item. */
final case class StmtRow(item: Option[String], value: Option[String], note: Option[String])

final case class Filing(kode: String, name: String, year: Int, quarter: Int,
    statements: Seq[(String, Seq[StmtRow])], calk: Seq[String]) {
  def id: String = s"${kode}_${year}_Q$quarter"
}

/** Fact and notes rows exactly as the ETL must commit them. */
final case class Truth(facts: Set[Row], notes: Set[Row], linked: Set[Row])

/** IDX-shaped filing corpus and the paper's ETL path over it: xlsx + pdf
  * -> long-format fact table + CALK notes -> idempotent versioned load. */
object Filings {
  val Statements = Seq("Laporan Neraca", "Laporan Laba Rugi", "Laporan Arus Kas")
  val CalkTitle = "CATATAN ATAS LAPORAN KEUANGAN"
  val MetaSheet = "Informasi Umum"

  // No item contains another item of its statement: the engine links a
  // note by substring containment, and the truth below assumes one match.
  private val Items = Map(
    "Laporan Neraca" -> Seq("Kas dan setara kas", "Piutang usaha", "Tagihan lain-lain",
      "Persediaan", "Biaya dibayar dimuka", "Pajak dibayar dimuka", "Aset tetap",
      "Aset hak guna", "Properti investasi", "Goodwill", "Aset pajak tangguhan",
      "Investasi pada entitas asosiasi", "Utang dagang", "Utang lain-lain",
      "Beban akrual", "Utang pajak", "Pinjaman bank", "Liabilitas sewa",
      "Liabilitas imbalan kerja", "Modal saham", "Tambahan modal disetor",
      "Saldo laba", "Kepentingan nonpengendali", "Obligasi"),
    "Laporan Laba Rugi" -> Seq("Pendapatan usaha", "Beban pokok pendapatan", "Laba bruto",
      "Beban penjualan", "Beban umum dan administrasi", "Pendapatan keuangan",
      "Biaya keuangan", "Bagian laba entitas asosiasi", "Laba sebelum pajak",
      "Beban pajak penghasilan", "Laba tahun berjalan", "Penghasilan komprehensif lain",
      "Laba per saham dasar", "Pendapatan lain-lain", "Beban lain-lain"),
    "Laporan Arus Kas" -> Seq("Penerimaan dari pelanggan", "Pembayaran kepada pemasok",
      "Pembayaran kepada karyawan", "Pembayaran pajak", "Penerimaan bunga",
      "Pembayaran bunga", "Perolehan aset tetap", "Hasil penjualan aset tetap",
      "Penerimaan pinjaman bank", "Pembayaran pinjaman bank", "Pembayaran dividen",
      "Kenaikan bersih kas", "Kas awal tahun", "Kas akhir tahun", "Efek perubahan kurs"))
  for ((_, items) <- Items; a <- items; b <- items if a != b)
    require(!a.toLowerCase.contains(b.toLowerCase), s"item '$b' is inside '$a'")

  private val SectionTitles = Seq("UMUM", "IKHTISAR KEBIJAKAN AKUNTANSI", "KAS DAN SETARA KAS",
    "PIUTANG USAHA", "PERSEDIAAN", "ASET TETAP", "PERPAJAKAN", "UTANG BANK",
    "LIABILITAS IMBALAN KERJA", "MODAL SAHAM", "PENDAPATAN", "BEBAN USAHA",
    "INSTRUMEN KEUANGAN", "MANAJEMEN RISIKO", "PERISTIWA SETELAH PERIODE")
  private val SubTitles = Seq("Pendirian", "Penawaran umum", "Dasar penyusunan",
    "Kas dan bank", "Deposito berjangka", "Pihak ketiga", "Pihak berelasi",
    "Penyisihan kerugian", "Nilai wajar", "Pajak kini", "Pajak tangguhan")
  private val Words = Seq("perusahaan", "didirikan", "berdasarkan", "akta", "notaris",
    "saldo", "periode", "laporan", "disajikan", "rupiah", "nilai", "tercatat",
    "jangka", "pendek", "panjang", "kebijakan", "diterapkan", "secara", "konsisten",
    "entitas", "anak", "grup", "dicatat", "sebesar", "tahun", "berjalan")
  private val Quarters = Seq("Kuartal I / First Quarter", "Kuartal II / Second Quarter",
    "Kuartal III / Third Quarter", "Tahunan / Annual")

  /** `issuers` x four quarters of one year, deterministic in `seed`. */
  def generate(seed: Long, issuers: Int): Seq[Filing] = {
    val rnd = new Random(seed)
    val codes = Iterator.continually((1 to 4).map(_ => ('A' + rnd.nextInt(26)).toChar).mkString)
      .distinct.take(issuers).toSeq
    for (kode <- codes; year = 2019 + rnd.nextInt(5); q <- 1 to 4) yield {
      val name = (if (rnd.nextBoolean()) "PT " else "") +
        s"${kode.head}${kode.tail.toLowerCase} ${Seq("Sejahtera", "Abadi", "Makmur", "Nusantara")(rnd.nextInt(4))} Tbk"
      val (calk, codesSeen) = calkLines(rnd)
      val stmts = Statements.map { s =>
        val items = rnd.shuffle(Items(s)).take(10 + rnd.nextInt(Items(s).size - 9))
        val rows = items.map { it =>
          val value = if (rnd.nextInt(12) == 0) None else Some(money(rnd))
          StmtRow(Some(it), value, if (rnd.nextInt(5) < 2) Some(noteRef(rnd, codesSeen)) else None)
        }
        val blank = if (rnd.nextInt(3) == 0) Seq(StmtRow(None, Some(money(rnd)), None)) else Nil
        (s, rnd.shuffle(rows ++ blank))
      }
      Filing(kode, name, year, q, stmts, calk)
    }
  }

  private def money(rnd: Random): String = {
    val v = (1000L + (rnd.nextDouble() * 5e9).toLong) * (if (rnd.nextInt(6) == 0) -1 else 1)
    s"$v." + String.format(java.util.Locale.ROOT, "%02d", Int.box(rnd.nextInt(100)))
  }

  // first token is a bare section number: the engine's note pattern only
  // accepts a letter suffix on the tokens after it
  private def noteRef(rnd: Random, codes: IndexedSeq[String]): String = {
    val nums = codes.filter(_.forall(_.isDigit))
    val first = nums(rnd.nextInt(nums.size))
    rnd.nextInt(3) match {
      case 0 => first
      case 1 => codes.filter(c => c.startsWith(first) && c != first).headOption.getOrElse(first)
      case _ => (first +: rnd.shuffle(codes.filter(_ != first)).take(1 + rnd.nextInt(2))).mkString(",")
    }
  }

  private def sentence(rnd: Random): String = {
    val ws = Seq.fill(4 + rnd.nextInt(6))(Words(rnd.nextInt(Words.size)))
    ws.head.capitalize + " " + ws.tail.mkString(" ") + "."
  }

  /** CALK section lines and the section codes they define. */
  private def calkLines(rnd: Random): (Seq[String], IndexedSeq[String]) = {
    val out = Seq.newBuilder[String]
    val codes = IndexedSeq.newBuilder[String]
    val n = 6 + rnd.nextInt(5)
    for (i <- 1 to n) {
      out += s"$i. ${SectionTitles((i - 1) % SectionTitles.size)}"
      if (rnd.nextInt(4) == 0) out += "DAN PENJELASAN LAIN"
      codes += i.toString
      for (_ <- 0 to rnd.nextInt(2)) out += sentence(rnd)
      for (j <- 0 until rnd.nextInt(4)) {
        val letter = ('a' + j).toChar
        out += s"$letter. ${SubTitles(rnd.nextInt(SubTitles.size))}"
        codes += s"$i$letter"
        for (_ <- 0 to rnd.nextInt(2)) out += sentence(rnd)
      }
    }
    (out.result(), codes.result())
  }

  private def display(value: String): String = {
    val whole = math.abs(value.toDouble).toLong
    val s = String.format(java.util.Locale.ROOT, "%,d", Long.box(whole)).replace(',', '.')
    if (value.startsWith("-")) s"($s)" else s
  }

  /** Sheets: the KV metadata sheet, then one sheet per statement with
    * three header rows above the item/value rows. */
  def workbook(f: Filing): Array[Byte] = {
    val meta = Seq(
      Seq(W("Informasi umum laporan keuangan")),
      Seq(W("Kode entitas"), W(f.kode)),
      Seq(W("Nama entitas"), W(f.name)),
      Seq(W("Mata uang pelaporan"), W("Rupiah / IDR")),
      Seq(W("Periode penyampaian laporan keuangan"), W(Quarters(f.quarter - 1))),
      Seq(W("Tanggal awal periode berjalan"), W(s"${f.year}-01-01", date = true)))
    val sheets = (MetaSheet, meta) +: f.statements.map { case (s, rows) =>
      val header = Seq(Seq(W(f.name)), Seq(W(s)), Seq(W(if (f.quarter < 4) "Dalam jutaan Rupiah" else "Dalam Rupiah")))
      (s, header ++ rows.map(r => Seq(W(r.item.getOrElse("")), W(r.value.getOrElse(""), num = true))))
    }
    Xlsx.writeWorkbook(sheets)
  }

  /** Pages: each statement (continued on more pages past 40 lines, never
    * splitting an item from its value and note lines), then the CALK. */
  def pdf(f: Filing): Array[Byte] = {
    val stmtPages = f.statements.flatMap { case (s, rows) =>
      val groups = rows.filter(_.item.isDefined).zipWithIndex.map { case (r, i) =>
        // a blank value prints as 1.000: a bare "0" would read as a note reference
        val v = display(r.value.getOrElse("1000"))
        r.note match {
          case Some(n) if i % 2 == 0 => Seq(r.item.get, n, v)
          case Some(n) => Seq(r.item.get, v, n)
          case None => Seq(r.item.get, v)
        }
      }
      val pages = Seq.newBuilder[Seq[String]]
      var cur = Seq(s)
      for (g <- groups) {
        if (cur.size + g.size > 40) { pages += cur; cur = Seq(s"$s (lanjutan)") }
        cur ++= g
      }
      pages += cur
      pages.result()
    }
    val (c1, c2) = f.calk.splitAt(f.calk.size / 2)
    Pdf.writePdfModern(stmtPages ++ Seq(CalkTitle +: c1, c2))
  }

  /** Writes every filing's .xlsx and .pdf under `dir`; returns bytes per id. */
  def write(fs: Seq[Filing], dir: Path): Map[String, Long] = {
    Files.createDirectories(dir)
    fs.map { f =>
      val x = workbook(f); val p = pdf(f)
      Files.write(dir.resolve(f.id + ".xlsx"), x)
      Files.write(dir.resolve(f.id + ".pdf"), p)
      f.id -> (x.length + p.length).toLong
    }.toMap
  }

  /** The committed rows the ETL must produce for `fs`, computed here in
    * plain Scala from the generator's own records. */
  def truth(fs: Seq[Filing]): Truth = {
    val linked = Set.newBuilder[Row]
    val facts = fs.flatMap { f =>
      val nama = if (f.name.take(2).toUpperCase == "PT") f.name else "PT " + f.name
      f.statements.flatMap { case (s, rows) =>
        rows.flatMap { r =>
          val v0 = r.value.map(_.toDouble).getOrElse(0.0)
          val v = if (f.quarter != 4) v0 * 1e6 else v0
          val item = r.item.getOrElse("-")
          def row(nilai: Double, notes: String) =
            Row(f.kode, nama, f.year, f.quarter, s, item, nilai, notes)
          r.note match {
            case None => Seq(row(v, null))
            case Some(ref) =>
              val toks = ref.split(",").toSeq
              linked += row(v, toks.head)
              row(v, toks.head) +: toks.tail.map(t => row(0.0, t))
          }
        }
      }
    }.toSet
    val notes = fs.flatMap(f => calkTruth(f.id, f.calk)).toSet
    Truth(facts, notes, linked.result())
  }

  private def calkTruth(doc: String, lines: Seq[String]): Seq[Row] = {
    val Num = "^(\\d+)\\. (.*)$".r
    val Let = "^([a-z])\\. (.*)$".r
    val out = Seq.newBuilder[Row]
    var cur: (String, String) = null
    var parent = ""
    val content = new StringBuilder
    def flush(): Unit = if (cur != null) out += Row(doc, cur._1, cur._2, content.toString)
    lines.foreach {
      case Num(n, t) => flush(); cur = (n, t); parent = n; content.clear()
      case Let(l, t) => flush(); cur = (parent + l, t); content.clear()
      case t if t == t.toUpperCase => cur = (cur._1, cur._2 + " " + t)
      case t => if (content.nonEmpty) content.append(' '); content.append(t)
    }
    flush()
    out.result()
  }

  /** Fact columns in the truth's row order. */
  val TruthColumns = Seq("kode_emiten", "nama_emiten", "tahun", "quartal",
    "grup_laporan_keuangan", "item", "nilai", "notes")
  val FactKeys = Seq("kode_emiten", "tahun", "quartal", "grup_laporan_keuangan", "item", "note_key")
  val NoteKeys = Seq("doc_id", "kode")
  private val StmtSchema = new StructType()
    .add("kode_emiten", StringType).add("tahun", IntegerType)
    .add("quartal", IntegerType).add("grup_laporan_keuangan", StringType)

  private def existingKeys(spark: SparkSession, t: String): DataFrame =
    if (VersionedTable.latestVersion(spark, t).isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), StmtSchema)
    else VersionedTable.read(spark, t)
      .select("kode_emiten", "tahun", "quartal", "grup_laporan_keuangan").distinct()

  private def loadedDocs(spark: SparkSession, t: String): DataFrame =
    if (VersionedTable.latestVersion(spark, t).isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        new StructType().add("doc_id", StringType))
    else VersionedTable.read(spark, t).select("doc_id").distinct()

  /** One batch: files landed in `landing` -> both tables committed.
    * `at` materializes a layer's output at its boundary in the traced run
    * (identity otherwise); `count` records a per-span counter. Traced, it
    * returns the fact rows `NotesEnrichment.enrich` gave a note, in the
    * truth's shape; untraced, nothing. */
  def loadBatch(spark: SparkSession, tr: Tracer, landing: String, facts: String,
      notes: String, count: (String, Double) => Unit): Seq[Row] = {
    import spark.implicits._
    def at(df: DataFrame): DataFrame =
      if (tr.enabled) { val c = df.persist(); count("rows", c.count().toDouble); c } else df

    val cells = tr.span("sources.xlsx.read")(at(Xlsx.read(spark, landing).toDF().persist()))
    val fileId = regexp_replace($"file", "\\.(xlsx|pdf)$", "")
    val meta = cells.filter($"sheet" === MetaSheet)
      .groupBy($"file", $"row_idx")
      .agg(max(when($"col_idx" === 1, $"value")).as("key"),
        max(when($"col_idx" === 2, $"value")).as("value"))
      .select(fileId.as("filing_id"), $"key", $"value")
    val raw = cells.filter($"sheet".isin(Statements: _*))
      .groupBy($"file", $"sheet", $"row_idx")
      .agg(max(when($"col_idx" === 1, $"value")).as("item"),
        max(when($"col_idx" === 2, $"value")).cast("double").as("value"))
      .select(fileId.as("filing_id"), $"sheet".as("statement"),
        ($"row_idx" - 1).cast("int").as("row_id"), $"item", $"value")
    val existing = tr.span("versioned.read")(at(existingKeys(spark, facts)))
    val fact = tr.span("plans.fact_pipeline")(at(FactPipeline.run(raw, meta, existing)))

    val lines = tr.span("sources.pdf.read")(at(Pdf.read(spark, landing).toDF().persist()))
    val key = regexp_extract($"file", "^([A-Z]+)_(\\d+)_Q(\\d)\\.pdf$", _: Int)
    val calkFrom = lines.filter($"text" === CalkTitle).groupBy($"file").agg(min($"page").as("calk_page"))
    val pageStmt = Statements.map(s => lines.filter(lower($"text").contains(s.toLowerCase))
        .select($"file", $"page", lit(s).as("grup_laporan_keuangan")))
      .reduce(_ unionByName _).distinct()
    val stmtLines = lines.join(pageStmt, Seq("file", "page"))
      .select($"file".as("doc_id"), key(1).as("kode_emiten"), key(2).cast("int").as("tahun"),
        key(3).cast("int").as("quartal"), $"grup_laporan_keuangan",
        $"page".cast("int").as("page"), $"line_no".cast("int").as("line_no"), $"text")
    val enriched = tr.span("plans.notes_enrichment")(at(
      NotesEnrichment.enrich(fact.withColumn("notes", lit(null).cast("string")), stmtLines)))
    val linked = if (!tr.enabled) Seq.empty[Row] else tr.span("trace.notes_linked")(
      enriched.filter($"notes".isNotNull).select(TruthColumns.map(col): _*).collect().toSeq)

    val calkLines = lines.join(calkFrom, "file").filter($"page" >= $"calk_page")
      .select(fileId.as("doc_id"), $"page".cast("int").as("page"),
        $"line_no".cast("int").as("line_no"), $"text")
      .join(loadedDocs(spark, notes), Seq("doc_id"), "left_anti")
      .as[CalkLine]
    val sections = tr.span("plans.calk_parser")(at(CalkParser.parse(calkLines).toDF()))

    // counters land on the op span: rows handed to merge, bytes it added
    def merge(t: String, df: DataFrame, keys: Seq[String]): Unit = {
      val before = if (tr.enabled) { count("merge_rows", df.count().toDouble); dirBytes(t) } else 0L
      tr.span("versioned.merge")(VersionedTable.merge(spark, t, df, keys))
      if (tr.enabled) count("merge_bytes", (dirBytes(t) - before).toDouble)
    }
    merge(facts, enriched.withColumn("note_key", coalesce($"notes", lit(""))), FactKeys)
    merge(notes, sections, NoteKeys)
    Seq(cells, lines, fact, enriched, sections).foreach(_.unpersist(blocking = true))
    linked
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  /** Rows of both committed tables, in the truth's shape. */
  def committed(spark: SparkSession, facts: String, notes: String): (Seq[Row], Seq[Row]) = {
    val f = VersionedTable.read(spark, facts).select(TruthColumns.map(col): _*).collect().toSeq
    val n = VersionedTable.read(spark, notes).select("doc_id", "kode", "heading", "content")
      .collect().toSeq
    (f, n)
  }
}

/** Writes the filing corpus of a seed: `GenCorpus <seed> <dir>`. The
  * self-tests use it to check that the generator is deterministic. */
object GenCorpus {
  def main(args: Array[String]): Unit =
    Filings.write(Filings.generate(args(0).toLong, Main.Issuers), Paths.get(args(1)))
}
