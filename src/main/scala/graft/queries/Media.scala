package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Multimodal
import graft.functions.Hashing.h60
import graft.sources.{Pdf, Tar, Xlsx}
import graft.sources.Xlsx.W

/** Driver-visible binary-column queries (north-star multimodal
  * extension, oracle-checked): container-format sniffing and PNG IHDR
  * metadata extraction over an opaque `binary` column. Both are pure
  * codegen expressions (substring+hex+conv — see ext/Multimodal), so at
  * 100 TB they run inside the scan stage and the payload never
  * shuffles; only the few extracted metadata bytes move.
  *
  * The driver test tables carry no binary column, so these run on a
  * deterministic inline fixture that graft.Verify also dumps to parquet
  * — the DuckDB oracles recompute the same sniff/extract from the same
  * bytes via hex-string arithmetic (hash-checked, not rows>0). The
  * pixel path is real too: m10 encodes grayscale PNGs, decodes them
  * through the JDK's ImageIO codec, and hash-matches the features
  * against a DuckDB recompute over the raw generator pixels.
  */
object Media extends QueryModule {

  /** Deterministic mixed-format corpus: PNG headers with varying IHDR
    * fields, JPEG magic-byte payloads, non-image junk, a real WAV, and
    * a RIFF-but-not-WAVE payload (the sniffer must check BOTH magic
    * regions, not just the RIFF prefix). */
  def fixture(s: SparkSession): DataFrame = {
    import s.implicits._
    ((0L until 12L).map { id =>
      val bytes: Array[Byte] = (id % 3) match {
        case 0 =>
          val v = (id / 3).toInt
          Multimodal.fakePng(16 + 7 * v, 9 + 5 * v,
            if (v % 2 == 0) 8 else 16, Seq(0, 2, 6)(v % 3))
        case 1 =>
          Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte) ++
            Array.tabulate(8)(i => ((id * 31 + i) & 0xff).toByte)
        case _ =>
          s"not-an-image-$id".getBytes("US-ASCII")
      }
      (id, bytes)
    } ++ Seq(
      12L -> Multimodal.encodePcmWav(8000, Array(0, 100, -100, 32767, -32768)),
      13L -> ("RIFF" + "junk-not-wave").getBytes("US-ASCII"),
    )).toDF("media_id", "content")
  }

  /** m01 — magic-byte format sniff per payload. */
  private def m01(s: SparkSession, d: String): DataFrame =
    fixture(s)
      .select(col("media_id"),
        Multimodal.sniffFormat(col("content")).as("format"))
      .orderBy("media_id")

  /** m02 — PNG IHDR metadata (width/height/bit depth/color type at
    * fixed big-endian offsets); nulls for non-PNG payloads. */
  private def m02(s: SparkSession, d: String): DataFrame =
    fixture(s)
      .select(col("media_id"),
        Multimodal.pngWidth(col("content")).cast("long").as("width"),
        Multimodal.pngHeight(col("content")).cast("long").as("height"),
        Multimodal.pngBitDepth(col("content")).cast("long").as("bit_depth"),
        Multimodal.pngColorType(col("content")).cast("long").as("color_type"))
      .orderBy("media_id")

  /** Write `files` (name → bytes) into `dir`, creating it; returns its
    * absolute path. Every fixture's bytes are deterministic, so a
    * rewrite is idempotent. Local-path scratch: on a cluster this dir
    * would be shared storage; the connectors read any binaryFile URI. */
  def writeFiles(dir: String, files: Seq[(String, Array[Byte])]): String = {
    val d = new java.io.File(dir)
    d.mkdirs()
    files.foreach { case (name, bytes) =>
      java.nio.file.Files.write(new java.io.File(d, name).toPath, bytes)
    }
    d.getAbsolutePath
  }

  // ---- real binary XLSX connector (sources/Xlsx) --------------------

  /** Deterministic workbook corpus: two files, multi-sheet, mixing
    * shared strings, inline strings, numerics, skipped cells, and one
    * multi-letter column ref (AB) — the shapes `pd.read_excel` reads in
    * the reference. */
  def xlsxFixtureData: Seq[(String, Seq[(String, Seq[Seq[W]])])] = Seq(
    "fin_2023.xlsx" -> Seq(
      "Laporan Neraca" -> Seq(
        Seq(W("Pos"), W("Nilai")),
        Seq(W("Jumlah aset"), W("1000.5", num = true)),
        Seq(W("Jumlah liabilitas"), W("400.25", num = true)),
        Seq(W(""), W("7", num = true)),
        Seq(W("Catatan"), W(""), W("lampiran & <xml>"))),
      "Laporan Laba Rugi" -> Seq(
        Seq(W("Pos"), W("Nilai")),
        Seq(W("Laba bersih"), W("88", num = true)))),
    "fin_2024.xlsx" -> Seq(
      "Ikhtisar" -> Seq(
        Seq(W("Kode entitas"), W("TLKM")),
        Seq(W("Laba ditahan"), W("12.75", num = true)),
        Seq(W("Wide") +: Seq.fill(26)(W("")) :+ W("kolom-AB"): _*),
        // date-styled serials (the reference reads "Tanggal awal
        // periode" values, mainTesting.py:430): a plain date and a
        // datetime, stored as 1900-system serials + styles.xml
        Seq(W("Tanggal awal periode"), W("2023-01-01", date = true)),
        Seq(W("Dicetak"), W("2024-03-15 12:30:05", date = true)),
        // merged regions (xlsxMergeData): a TITLE spanning A6:C6 and a
        // KEY cell spanning rows A7:A8 — the shapes real IDX metadata
        // sheets merge; values live only in the anchors, the covered
        // B8 value would lose its key under an anchor-only read
        Seq(W("IKHTISAR PENTING")),
        Seq(W("Auditor"), W("KAP Contoh")),
        Seq(W(""), W("terdaftar")))))

  /** Merged regions per (file, 1-based sheet idx): (r1, c1, r2, c2),
    * numeric so the expected-cells oracle below can anchor-fill
    * without any ref parsing. */
  def xlsxMergeData: Map[(String, Int), Seq[(Int, Int, Int, Int)]] = Map(
    ("fin_2024.xlsx", 1) -> Seq((6, 1, 6, 3), (7, 1, 8, 1)))

  /** Write the fixture workbooks as actual .xlsx files. */
  def writeXlsxFixture(dir: String): String =
    writeFiles(dir, xlsxFixtureData.map { case (name, sheets) =>
      val merges = sheets.indices.map { i =>
        xlsxMergeData.getOrElse((name, i + 1), Seq.empty).map {
          case (r1, c1, r2, c2) =>
            s"${Xlsx.colName(c1)}$r1:${Xlsx.colName(c2)}$r2"
        }
      }
      name -> Xlsx.writeWorkbook(sheets, merges)
    })

  /** Expected cell rows derived DIRECTLY from the fixture definition —
    * never through the parser — so the oracle is independent of the
    * code under test. */
  def xlsxExpected(s: SparkSession): DataFrame = {
    import s.implicits._
    val base = for {
      (file, sheets) <- xlsxFixtureData
      ((sheet, rows), si) <- sheets.zipWithIndex
      (cells, ri) <- rows.zipWithIndex
      (cell, ci) <- cells.zipWithIndex
      if cell.text.nonEmpty
    } yield (file, sheet, (si + 1).toLong, (ri + 1).toLong, (ci + 1).toLong, cell.text)
    // anchor-fill recomputed straight from the fixture definition +
    // merge spec (numeric regions, no ref parsing) — still independent
    // of the parser under test
    val fills = for {
      (file, sheets) <- xlsxFixtureData
      ((sheet, rows), si) <- sheets.zipWithIndex
      (r1, c1, r2, c2) <- xlsxMergeData.getOrElse((file, si + 1), Seq.empty)
      anchor = rows.lift(r1 - 1).flatMap(_.lift(c1 - 1)).map(_.text).getOrElse("")
      if anchor.nonEmpty
      r <- r1 to r2
      c <- c1 to c2
      if !(r == r1 && c == c1)
      if rows.lift(r - 1).flatMap(_.lift(c - 1)).forall(_.text.isEmpty)
    } yield (file, sheet, (si + 1).toLong, r.toLong, c.toLong, anchor)
    (base ++ fills)
      .toDF("file", "sheet", "sheet_idx", "row_idx", "col_idx", "value")
  }

  private def xlsxDir: String = graft.util.Scratch.dir("xlsx")

  /** m03 — full binary scan: write real workbooks, read them back
    * through the zip+XML connector, surface the long cell shape. The
    * oracle replays the expected cells from a parquet dump that never
    * touched the parser — a hash match certifies the connector. */
  private def m03(s: SparkSession, d: String): DataFrame = {
    val dir = writeXlsxFixture(xlsxDir)
    Xlsx.read(s, dir).toDF()
      .orderBy("file", "sheet_idx", "row_idx", "col_idx")
  }

  /** m24 — merged-region metadata surface: `<mergeCells>` regions per
    * sheet, in declared order; oracle is the golden merge spec
    * (`xlsxMergeData`) as literal VALUES. The anchor-FILL semantics
    * those regions imply are certified through m03's extended cell
    * oracle (the filled B6/C6/A8 cells). */
  private def m24(s: SparkSession, d: String): DataFrame = {
    val dir = writeXlsxFixture(xlsxDir)
    Xlsx.mergedRegions(s, dir)
      .orderBy("file", "sheet_idx", "first_row", "first_col")
  }
  private val m24Sql =
    """SELECT * FROM (VALUES
         ('fin_2024.xlsx', 'Ikhtisar', CAST(1 AS BIGINT), CAST(6 AS BIGINT),
          CAST(1 AS BIGINT), CAST(6 AS BIGINT), CAST(3 AS BIGINT)),
         ('fin_2024.xlsx', 'Ikhtisar', 1, 7, 1, 8, 1))
       AS t(file, sheet, sheet_idx, first_row, first_col, last_row, last_col)
       ORDER BY file, sheet_idx, first_row, first_col"""

  /** m04 — content discovery over real bytes: first sheet whose cell
    * content contains the keyword (the reference's `cari_sheet_excel`,
    * mainTesting.py:379-389, now against actual workbook files). */
  private def m04(s: SparkSession, d: String): DataFrame = {
    val dir = writeXlsxFixture(xlsxDir)
    Xlsx.discoverSheet(s, dir, "laba")
  }

  /** m21 — DataFrame → XLSX → DataFrame ROUND TRIP (closing S10, the
    * reference's `to_excel` report export, test_uploadPDF.py:124): an
    * aggregate result is written as a real workbook via
    * `Sources.writeXlsx`, read back through the binary connector, and
    * the oracle recomputes the long cell shape (header + unpivoted
    * values) relationally from the base tables — a hash match
    * certifies the WRITE direction against DuckDB, with the read
    * direction already certified by m03. */
  private def m21(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = graft.sources.Tables.customer(s, d)
      .join(graft.sources.Tables.nation(s, d),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_cust"),
        sum(expr("cast(round(c_acctbal * 100) as bigint)")).as("cents"))
      .orderBy($"n_name")
    val dir = graft.util.Scratch.dir("xlsx_export")
    graft.sources.Sources.writeXlsx(agg, s"$dir/report.xlsx", "Ringkasan")
    Xlsx.read(s, dir).toDF().orderBy("row_idx", "col_idx")
  }
  private val m21Sql =
    """WITH agg AS (
         SELECT n_name, count(*) AS n_cust,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name),
       ord AS (
         SELECT n_name, n_cust, cents,
           row_number() OVER (ORDER BY n_name) + 1 AS row_idx
         FROM agg),
       cells AS (
         SELECT CAST(1 AS BIGINT) AS row_idx, CAST(1 AS BIGINT) AS col_idx,
                'n_name' AS value
         UNION ALL SELECT 1, 2, 'n_cust'
         UNION ALL SELECT 1, 3, 'cents'
         UNION ALL SELECT row_idx, 1, n_name FROM ord
         UNION ALL SELECT row_idx, 2, CAST(n_cust AS VARCHAR) FROM ord
         UNION ALL SELECT row_idx, 3, CAST(cents AS VARCHAR) FROM ord)
       SELECT 'report.xlsx' AS file, 'Ringkasan' AS sheet,
              CAST(1 AS BIGINT) AS sheet_idx, row_idx, col_idx, value
       FROM cells ORDER BY row_idx, col_idx"""

  // ---- real binary PDF connector (sources/Pdf) ----------------------

  /** One fixture file of a PDF text gate: the lines each page must read
    * back as, and the file's bytes from an encoder that shares no code
    * with the parser, encoded on first use (so listing the gates, as
    * every `SparkEntry.queries` lookup does, runs no encoder). */
  final class PdfTextFile(val name: String, val pages: Seq[Seq[String]],
      encode: => Array[Byte]) {
    lazy val bytes: Array[Byte] = encode
  }

  /** A PDF text gate: the query writes `files` into the scratch dir
    * `dir` and reads them back through `Pdf.read`; its oracle replays
    * the `<dir>_expected` dump of the files' own lines, which never
    * touched the parser. */
  final case class PdfTextGate(query: String, dir: String,
      files: Seq[PdfTextFile])

  private def encodedWith(encode: Seq[Seq[String]] => Array[Byte])(
      files: (String, Seq[Seq[String]])*): Seq[PdfTextFile] =
    files.map { case (name, pages) => new PdfTextFile(name, pages, encode(pages)) }

  private val pdfFormHeader = "PT Contoh Tbk — Laporan Keuangan"
  private val pdfFormStamp = "AUDITED €0"

  /** The PDF text gates, one encoder each. */
  lazy val pdfTextGates: Seq[PdfTextGate] = Seq(
    // m05 — the classic Flate+Tj writer: filing-like pages, escaped
    // parentheses and backslashes, a CALK-shaped heading run — the
    // text shapes fitz extracts in the reference
    PdfTextGate("m05_pdf_lines", "pdf", encodedWith(Pdf.writePdf)(
      "filing_2023.pdf" -> Seq(
        Seq("LAPORAN KEUANGAN", "PT Contoh (Persero) Tbk", "Tahun 2023"),
        Seq("1. UMUM", "Perusahaan didirikan tahun 1946.", "a. Pendirian"),
        Seq("CATATAN ATAS LAPORAN KEUANGAN", "Kas dan setara kas", "2,3b")),
      "filing_2024.pdf" -> Seq(
        Seq("Ikhtisar \\ saldo (awal)", "Laba bersih 88")))),
    // m20 — the MODERN encoder (PDF 1.5 shapes real IDX filings use):
    // kerned TJ arrays, hex strings, Tm/TD/T-star/quote positioning,
    // /Contents arrays, a nested page tree, object streams and a
    // PNG-predicted xref STREAM
    PdfTextGate("m20_pdf_tj", "pdf_tj", encodedWith(Pdf.writePdfModern)(
      "modern_2023.pdf" -> Seq(
        Seq("LAPORAN POSISI KEUANGAN KONSOLIDASIAN",
          "Kas dan setara kas 1500.5",
          "Jumlah aset 2300.5"),
        Seq("1. UMUM",
          "Perusahaan didirikan tahun 1946.",
          "a. Pendirian dan informasi umum"),
        Seq("CATATAN ATAS LAPORAN KEUANGAN",
          "Piutang usaha (neto) 800",
          "2,3b"),
        Seq("Lihat catatan terlampir")),
      "modern_2024.pdf" -> Seq(
        Seq("Ikhtisar \\ saldo (awal)", "Laba bersih 88"),
        Seq("Pendapatan 9000", "Beban pokok (6500)")))),
    // m22 — subsetted CID fonts: 2-byte private CIDs readable ONLY
    // through the /ToUnicode CMap, lines alternating with a no-CMap
    // Type1 font, /Resources on the root page-tree node (inheritance)
    PdfTextGate("m22_pdf_cid", "pdf_cid", encodedWith(Pdf.writePdfCid)(
      "cid_2023.pdf" -> Seq(
        Seq("LAPORAN LABA RUGI KONSOLIDASIAN",       // F2 plain
          "Pendapatan bersih efisiensi 12500",       // F1 CID (kerned TJ)
          "Beban pokok pendapatan (8200)",           // F2
          "Laba kotor final 4300"),                  // F1 CID, "fi" ligature
        Seq("CATATAN 12: Informasi segmen",
          "Aset segmen konsolidasian 99100")),
      "cid_2024.pdf" -> Seq(
        Seq("Ikhtisar fiskal",
          "Defisit neto (150)")))),
    // m23 — the pre-2015 simple-font shape: base encodings (MacRoman/
    // WinAnsi/Standard) + /Differences, NO /ToUnicode; lines cycle F1
    // (MacRoman+Differences) → F2 (WinAnsi name) → F3 (Differences
    // only), so Latin-1 passthrough garbles every non-ASCII character
    PdfTextGate("m23_pdf_differences", "pdf_diff", encodedWith(Pdf.writePdfDifferences)(
      "legacy_2014.pdf" -> Seq(
        Seq("Ekuitas — modal disetor €500 •",        // F1: é-free MacRoman+diffs
          "Mata uang € dan ± 25° «résumé»",          // F2: WinAnsi upper half
          "ringkasan ‘ﬁskal’ àé",                    // F3: Standard + Differences
          "Laba ditahan (déﬁsit) €25 ﬁnal —",        // F1 again: é 0x8E, ﬁ 245
          "Beban pokok — selisih kurs €3"),          // F2: — at 0x97
        Seq("Catatan atas laporan",                  // F1 ASCII through MacRoman
          "posisi keuangan • arus kas €1",           // F2? no: index 1 → F2
          "tahun ﬁskal ‘berjalan’")),                // F3
      "legacy_2013.pdf" -> Seq(
        Seq("Ikhtisar — éﬁsiensi €7 •",
          "«Neraca» per 31° Desember",
          "catatan ‘umum’ àé")))),
    // m25 — Form XObjects: each page's letterhead is a `Do`-invoked
    // form with its own WinAnsi font and a translating /Matrix, and
    // the audit stamp nests INSIDE it with a scaling matrix and no
    // resources or Tf of its own (both inherited through the Do); the
    // em-dash and € are cp1252 bytes that only decode through the
    // inherited font. Each page reads header, stamp, then body lines.
    PdfTextGate("m25_pdf_form_xobject", "pdf_form", Seq(
      "form_2015.pdf" -> Seq(
        Seq("Pendapatan usaha 7500", "Beban umum (2100)"),
        Seq("Catatan 3: piutang usaha 430")),
      "form_2016.pdf" -> Seq(
        Seq("Ikhtisar arus kas 990"))).map { case (name, pages) =>
      new PdfTextFile(name, pages.map(Seq(pdfFormHeader, pdfFormStamp) ++ _),
        Pdf.writePdfForm(pages, pdfFormHeader, pdfFormStamp))
    }),
    // m26 — §7.6.3 standard security handler, EMPTY user password: one
    // file per method, a REAL owner password on /O, per-object RC4/AES
    // encrypted Flate content, /ID-dependent key derivation (the
    // writer's algorithms are pinned to known-answer vectors in PdfSpec)
    PdfTextGate("m26_pdf_encrypted", "pdf_enc", Seq(
      ("enc_rc4_40_2023.pdf", "rc4-40", Seq(
        Seq("LAPORAN KEUANGAN (terenkripsi)", "PT Contoh Tbk"),
        Seq("Kas dan setara kas 1500.5", "Jumlah aset 2300.5"))),
      ("enc_rc4_128_2024.pdf", "rc4-128", Seq(
        Seq("Ikhtisar saldo terenkripsi", "Laba bersih 88"))),
      ("enc_aes_2025.pdf", "aesv2", Seq(
        Seq("CATATAN TERENKRIPSI", "Piutang usaha (neto) 800"),
        Seq("2,3b"))),
      ("enc_aes256_2026.pdf", "aesv3", Seq(
        Seq("LAMPIRAN TERENKRIPSI AES-256", "Liabilitas jangka pendek 410"),
        Seq("Catatan 7: pinjaman bank 95")))).map { case (name, method, pages) =>
      new PdfTextFile(name, pages, Pdf.writePdfEncrypted(pages, method))
    }),
    // m27 — a /ToUnicode CMap with a 1-byte ASCII codespace AND a
    // Shift-JIS-style 2-byte codespace <8140><FFFC>: show strings mix
    // widths, so byte-by-byte codespace matching (§9.7.6.2) is
    // load-bearing
    PdfTextGate("m27_pdf_mixed_cmap", "pdf_mixed", encodedWith(Pdf.writePdfCidMixed)(
      "mixed_2023.pdf" -> Seq(
        Seq("Ekuitas — modal €500", "Laba (rugi) bersih ±25",
          "ringkasan ﬁskal • «résumé»"),
        Seq("Catatan ‘umum’ tahun 2023", "Beban pokok — selisih €3")),
      "mixed_2024.pdf" -> Seq(
        Seq("Ikhtisar — éﬁsiensi €7", "per 31° Desember")))))

  def pdfTextGate(query: String): PdfTextGate =
    pdfTextGates.find(_.query == query).getOrElse(
      throw new NoSuchElementException(s"no PDF text gate $query"))

  private def writeGate(g: PdfTextGate): String =
    writeFiles(graft.util.Scratch.dir(g.dir), g.files.map(f => f.name -> f.bytes))

  /** A gate's expected (file, page, line_no, text) rows, straight from
    * its files' pages — the parser never touches these. */
  def pdfTextExpected(s: SparkSession, g: PdfTextGate): DataFrame = {
    import s.implicits._
    (for {
      f <- g.files
      (lines, pi) <- f.pages.zipWithIndex
      (text, li) <- lines.zipWithIndex
    } yield (f.name, (pi + 1).toLong, li.toLong, text))
      .toDF("file", "page", "line_no", "text")
  }

  /** The text gates' one query: write the fixture, scan it back. */
  private def pdfTextQuery(g: PdfTextGate): QueryFn = (s, _) =>
    Pdf.read(s, writeGate(g)).toDF()
      .orderBy("file", "page", "line_no")

  private def pdfTextSql(g: PdfTextGate): String =
    s"""SELECT file, page, line_no, text
       FROM read_parquet('__FIXTURES__/${g.dir}_expected/*.parquet')
       ORDER BY file, page, line_no"""

  /** m06 — keyword page search over real bytes (the reference's
    * per-page `kata_kunci in teks.lower()` filter, mainTesting.py:
    * 217-254): first matching page per file. */
  private def m06(s: SparkSession, d: String): DataFrame = {
    val dir = writeGate(pdfTextGate("m05_pdf_lines"))
    Pdf.searchPages(s, dir, "laba")
  }

  /** p04 — the reference's E2 HEADLINE WORKFLOW end-to-end
    * (test_uploadPDF.py: `tabula.read_pdf(..., area=[…])` :31-34 →
    * DataFrame → `to_excel` :124): positioned PDF bytes → area crop →
    * grid reconstruction (`Pdf.tableRegion`) → pivot to a wide report
    * → `Sources.writeXlsx` → re-read the workbook through the binary
    * connector. The oracle recomputes the final cell shape from the
    * parser-independent positioned-text dump, so one hash certifies
    * the whole chain: crop ranks, pivot, xlsx write, xlsx read. */
  private def p04(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = writePdfPosFixture(pdfPosDir)
    val grid = Pdf.tableRegion(s, dir, 60, 570, 400, 650)
    val wide = grid.groupBy($"file", $"page", $"row_idx")
      .agg(
        max(when($"col_idx" === 1, $"value")).as("c1"),
        max(when($"col_idx" === 2, $"value")).as("c2"),
        max(when($"col_idx" === 3, $"value")).as("c3"))
      .orderBy($"file", $"page", $"row_idx")
    val out = graft.util.Scratch.dir("pdf_report")
    graft.sources.Sources.writeXlsx(wide, s"$out/report.xlsx", "Tabel")
    Xlsx.read(s, out).toDF().orderBy("row_idx", "col_idx")
  }
  private val p04Sql =
    """WITH grid AS (
         SELECT file, page, text AS value,
           dense_rank() OVER (PARTITION BY file, page ORDER BY y DESC) AS row_idx,
           row_number() OVER (PARTITION BY file, page, y ORDER BY x) AS col_idx
         FROM read_parquet('__FIXTURES__/pdf_pos_expected/*.parquet')
         WHERE x BETWEEN 60 AND 400 AND y BETWEEN 570 AND 650),
       wide AS (
         SELECT file, page, row_idx,
           max(CASE WHEN col_idx = 1 THEN value END) AS c1,
           max(CASE WHEN col_idx = 2 THEN value END) AS c2,
           max(CASE WHEN col_idx = 3 THEN value END) AS c3
         FROM grid GROUP BY file, page, row_idx),
       ord AS (
         SELECT *, row_number() OVER (ORDER BY file, page, row_idx) + 1 AS r
         FROM wide),
       cells AS (
         SELECT 1 AS r, 1 AS c, 'file' AS value
         UNION ALL SELECT 1, 2, 'page' UNION ALL SELECT 1, 3, 'row_idx'
         UNION ALL SELECT 1, 4, 'c1' UNION ALL SELECT 1, 5, 'c2'
         UNION ALL SELECT 1, 6, 'c3'
         UNION ALL SELECT r, 1, file FROM ord
         UNION ALL SELECT r, 2, CAST(page AS VARCHAR) FROM ord
         UNION ALL SELECT r, 3, CAST(row_idx AS VARCHAR) FROM ord
         UNION ALL SELECT r, 4, c1 FROM ord WHERE c1 IS NOT NULL
         UNION ALL SELECT r, 5, c2 FROM ord WHERE c2 IS NOT NULL
         UNION ALL SELECT r, 6, c3 FROM ord WHERE c3 IS NOT NULL)
       SELECT 'report.xlsx' AS file, 'Tabel' AS sheet,
         CAST(1 AS BIGINT) AS sheet_idx, CAST(r AS BIGINT) AS row_idx,
         CAST(c AS BIGINT) AS col_idx, value
       FROM cells ORDER BY row_idx, col_idx"""

  /** PASSWORD-protected fixture: files whose USER password is real
    * (non-empty) — unreadable without credentials, across the legacy
    * RC4 path and AES-256 R6. Both share one user password so a single
    * `read(dir, password)` call covers the directory; the owner
    * password is the writer's fixed "graft-owner". */
  def pdfPwdFixtureData: Seq[(String, String, Seq[Seq[String]])] = Seq(
    ("pwd_rc4_128_2024.pdf", "rc4-128", Seq(
      Seq("NERACA TERKUNCI", "Kas di bank 77.5"),
      Seq("Catatan 3: deposito 12"))),
    ("pwd_aes256_2026.pdf", "aesv3", Seq(
      Seq("IKHTISAR TERKUNCI AES-256", "Modal disetor 950"))))

  /** The shared user password of [[pdfPwdFixtureData]]. */
  val pdfPwdUserPassword = "buka-rahasia"

  def writePdfPwdFixture(dir: String): String =
    writeFiles(dir, pdfPwdFixtureData.map { case (name, method, pages) =>
      name -> Pdf.writePdfEncrypted(pages, method,
        userPassword = pdfPwdUserPassword)
    })

  /** Expected rows × both credentials, straight from the fixture
    * definition — the parser never touches these. */
  def pdfPwdExpected(s: SparkSession): DataFrame = {
    import s.implicits._
    (for {
      cred <- Seq("owner", "user")
      (file, _, pages) <- pdfPwdFixtureData
      (lines, pi) <- pages.zipWithIndex
      (text, li) <- lines.zipWithIndex
    } yield (cred, file, (pi + 1).toLong, li.toLong, text))
      .toDF("cred", "file", "page", "line_no", "text")
  }

  /** m28 — caller-supplied PDF passwords: real-password files decrypt
    * under the USER password and, independently, under the OWNER
    * password (Algorithm 7/12 recovery); a wrong password and a
    * missing password each fail LOUDLY (certified in-gate before the
    * oracle rows are produced). Oracle replays the fixture definition
    * (m26 discipline — independent of the parser). */
  private def m28(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = writePdfPwdFixture(graft.util.Scratch.dir("pdf_pwd"))
    def failsWith(pwd: Option[String], marker: String): Unit = {
      val loud =
        try { Pdf.read(s, dir, pwd).count(); false }
        catch {
          case e: Throwable =>
            Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
              .exists(c => c.getMessage != null &&
                c.getMessage.contains(marker))
        }
      require(loud, s"password $pwd must fail loudly with '$marker'")
    }
    failsWith(None, "password-protected")
    failsWith(Some("salah-total"), "matches neither")
    val user = Pdf.read(s, dir, Some(pdfPwdUserPassword))
      .toDF().withColumn("cred", lit("user"))
    val owner = Pdf.read(s, dir, Some("graft-owner"))
      .toDF().withColumn("cred", lit("owner"))
    user.unionByName(owner)
      .select($"cred", $"file", $"page", $"line_no", $"text")
      .orderBy("cred", "file", "page", "line_no")
  }
  private val m28Sql =
    """SELECT cred, file, page, line_no, text
       FROM read_parquet('__FIXTURES__/pdf_pwd_expected/*.parquet')
       ORDER BY cred, file, page, line_no"""

  /** FONT-PROGRAM fixture (no /ToUnicode, no standard /Encoding —
    * text recoverable ONLY from the embedded programs' own tables):
    * (font kind, line text). Font 1 = simple TrueType via symbolic
    * cmap (3,0)+(3,1); font 2 = Type1 builtin encoding; font 3 =
    * Type0/Identity-H CID via inverted (3,1) alone. */
  def pdfFontProgFixture: Seq[(Int, String)] = Seq(
    (1, "NERACA KONSOLIDASIAN"),
    (1, "Jumlah aset 2.300"),
    (2, "Kas dan setara kas"),
    (2, "CALK 3: piutang"),
    (3, "LAPORAN ARUS KAS"),
    (3, "Saldo akhir 88"))

  def writePdfFontProgFixture(dir: String): String =
    writeFiles(dir, Seq("font_prog.pdf" -> Pdf.writePdfFontProg(pdfFontProgFixture)))

  /** Expected rows straight from the fixture definition. */
  def pdfFontProgExpected(s: SparkSession): DataFrame = {
    import s.implicits._
    pdfFontProgFixture.zipWithIndex.map { case ((_, text), li) =>
      ("font_prog.pdf", 1L, li.toLong, text)
    }.toDF("file", "page", "line_no", "text")
  }

  /** m31 — embedded-font text recovery (the fitz behavior the
    * reference relies on for pre-2010 filings, mainTesting.py:217-254):
    * subsetted fonts with NEITHER /ToUnicode NOR a standard /Encoding
    * decode through the embedded font program's own tables — a
    * TrueType `cmap` (symbolic (3,0) codes composed with the inverted
    * (3,1) unicode subtable), a Type1 builtin /Encoding array, and an
    * Identity-H CID font whose 2-byte codes are glyph ids. The code
    * assignment is deliberately NON-identity, so a Latin-1 passthrough
    * cannot fake a pass. Oracle replays the fixture definition (m26
    * discipline). */
  private def m31(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = writePdfFontProgFixture(graft.util.Scratch.dir("pdf_fontprog"))
    Pdf.read(s, dir)
      .select($"file", $"page", $"line_no", $"text")
      .orderBy("file", "page", "line_no")
  }
  private val m31Sql =
    """SELECT file, page, line_no, text
       FROM read_parquet('__FIXTURES__/pdf_fontprog_expected/*.parquet')
       ORDER BY file, page, line_no"""

  /** RULED-TABLE (lattice) fixture: three encoder shapes —
    *   page 1: stroked grid (outer `re S`, inner `m/l S`), one cell
    *     holding TWO tokens (concatenation order is load-bearing),
    *     PLUS an inline image (`BI..ID..EI`) dropped mid-walk whose
    *     binary data spells operator lookalikes (a diagonal `m/l S`, a
    *     phantom `re f`, an unbalanced `(`) — the scanned-logo shape
    *     real filings carry; a reader that fails to skip it fabricates
    *     grid cuts or derails the text scan, and the oracle catches it;
    *   page 2: the same machinery under a `q cm … Q` translation with
    *     LOCAL path coordinates, drawn as thin FILLED bars (`re f`);
    *   page 3: no rulings at all — [[tableAuto]]'s stream fallback.
    * Cell map: (row, col) → tokens, 1-based from the top-left. */
  def pdfLatticeFixture: Seq[Pdf.RuledPageSpec] = Seq(
    Pdf.RuledPage(
      left = 72, top = 700,
      colWidths = Seq(120, 90, 90), rowHeights = Seq(20, 20, 20),
      cells = Map(
        (1, 1) -> Seq("Pos"), (1, 2) -> Seq("2023"), (1, 3) -> Seq("2024"),
        (2, 1) -> Seq("Kas", "bersih"), (2, 2) -> Seq("150.5"),
        (2, 3) -> Seq("200.25"),
        (3, 1) -> Seq("Piutang"), (3, 2) -> Seq("80"), (3, 3) -> Seq("95")),
      inlineImage = true),
    Pdf.RuledPage(
      left = 10, top = 100, // LOCAL coords; cm shifts to (100, 400)
      colWidths = Seq(100, 100), rowHeights = Seq(18, 18),
      cells = Map(
        (1, 1) -> Seq("Modal"), (1, 2) -> Seq("950"),
        (2, 1) -> Seq("Laba"), (2, 2) -> Seq("88")),
      thinFill = true, translate = Some((90.0, 300.0))),
    Pdf.PlainPage(Seq(
      (72, 700, "CATATAN UMUM"), (72, 686, "tanpa tabel"),
      (200, 686, "kolom dua"))))

  /** Expected (page, row, col, value) cells straight from the fixture
    * definition — lattice cells for pages 1-2, stream rows for the
    * unruled page 3. */
  def pdfLatticeExpected(s: SparkSession): DataFrame = {
    import s.implicits._
    val lattice = pdfLatticeFixture.zipWithIndex.collect {
      case (p: Pdf.RuledPage, pi) =>
        p.cells.toSeq.map { case ((r, c), toks) =>
          ("ruled_tables.pdf", (pi + 1).toLong, r.toLong, c.toLong,
            toks.mkString(" "))
        }
    }.flatten
    // page 3 stream fallback: rows by distinct y top-down, cols by x
    val stream = Seq(
      ("ruled_tables.pdf", 3L, 1L, 1L, "CATATAN UMUM"),
      ("ruled_tables.pdf", 3L, 2L, 1L, "tanpa tabel"),
      ("ruled_tables.pdf", 3L, 2L, 2L, "kolom dua"))
    (lattice ++ stream).toDF("file", "page", "row_idx", "col_idx", "value")
  }

  def writePdfLatticeFixture(dir: String): String =
    writeFiles(dir, Seq("ruled_tables.pdf" -> Pdf.writePdfRuled(pdfLatticeFixture)))

  /** m29 — LATTICE table extraction (tabula's default when rulings
    * exist, test_uploadPDF.py:31-34): drawn rulings — stroked grids
    * AND thin filled bars, with and without a CTM translation — define
    * the cell grid; the unruled page falls back to the stream-mode
    * text grid inside the same call. Oracle replays the fixture
    * definition (m26/m28 discipline). */
  private def m29(s: SparkSession, d: String): DataFrame = {
    val dir = writePdfLatticeFixture(graft.util.Scratch.dir("pdf_lattice"))
    // total order for the row-exact oracle compare WITHOUT a range
    // sort over the scan itself (range partitioning SAMPLES its child,
    // i.e. would parse every PDF a second time): shuffle the finished
    // cells — tiny — to one partition, then sort within it.
    Pdf.tableAuto(s, dir)
      .repartition(1)
      .sortWithinPartitions("file", "page", "row_idx", "col_idx")
  }
  private val m29Sql =
    """SELECT file, page, row_idx, col_idx, value
       FROM read_parquet('__FIXTURES__/pdf_lattice_expected/*.parquet')
       ORDER BY file, page, row_idx, col_idx"""

  /** Legacy .xls (BIFF8) fixture: TWO files chosen to land on BOTH CFB
    * placements — a small workbook riding the MINI stream and a padded
    * one in regular FAT sectors with its SST split into a CONTINUE
    * record mid-string. Cells cover every record family: LABELSST,
    * NUMBER, RK (+ a MULRK run), date XFs under both epochs, FORMULA
    * cached values, BOOLERR, and a merged region. */
  def xlsFixtureData: Seq[(String, Boolean, Boolean, Int, Seq[graft.sources.Xls.XlsSheet])] = {
    import graft.sources.Xls._
    Seq(
      ("neraca_2005.xls", false, false, 0, Seq(
        XlsSheet("NERACA", Seq(
          (1, 1, XStr("Pos")), (1, 2, XStr("Nilai")),
          (2, 1, XStr("Kas dan setara kas")), (2, 2, XNum(1500.5)),
          (3, 1, XStr("Piutang usaha")), (3, 2, XInt(800)),
          (4, 1, XStr("Tanggal pelaporan")), (4, 2, XDate("2005-12-31")),
          (5, 1, XStr("Diaudit")), (5, 2, XBool(true)),
          (6, 1, XStr("Jumlah aset")), (6, 2, XFormulaNum(2300.5)),
          (7, 1, XStr("Catatan")), (7, 2, XFormulaStr("lihat CALK 3")),
          (8, 1, XInt(10)), (8, 2, XInt(20)), (8, 3, XInt(30)),
          (9, 1, XStr("LAPORAN POSISI KEUANGAN"))),
          merges = Seq((9, 1, 10, 2))),
        XlsSheet("CALK", Seq((1, 1, XStr("catatan atas laporan keuangan")))))),
      ("arsip_1904_2006.xls", true, true, 5000, Seq(
        XlsSheet("Arsip", (1 to 120).map(i =>
          (i, 1, XStr(f"baris arsip nomor $i%03d"): XlsVal)) ++ Seq(
          (121, 1, XStr("kalimat-terakhir-yang-dibelah"): XlsVal),
          (122, 1, XDate("2006-06-30"): XlsVal)))))) }

  /** Expected (file, sheet, sheet_idx, row, col, value) rows straight
    * from the fixture definition — replays the writer INPUT through
    * the same display rules the reader promises (the m03/m26
    * discipline), so the oracle never consults the parser. */
  def xlsExpected(s: SparkSession): DataFrame = {
    import s.implicits._
    import graft.sources.Xls._
    def render(v: XlsVal): String = v match {
      case XStr(t) => t
      case XNum(d) => if (d == math.rint(d) && math.abs(d) < 1e15)
        d.toLong.toString else d.toString
      case XInt(n) => n.toString
      case XDate(iso) => iso
      case XFormulaNum(d) => if (d == math.rint(d) && math.abs(d) < 1e15)
        d.toLong.toString else d.toString
      case XFormulaStr(t) => t
      case XBool(b) => if (b) "TRUE" else "FALSE"
    }
    xlsFixtureData.flatMap { case (file, _, _, _, sheets) =>
      sheets.zipWithIndex.flatMap { case (sh, si) =>
        val base = sh.cells.map { case (r, c, v) =>
          (file, sh.name, (si + 1).toLong, r.toLong, c.toLong, render(v))
        }
        val have = base.map(t => (t._4, t._5)).toSet
        val anchor = base.map(t => ((t._4, t._5), t._6)).toMap
        val fills = sh.merges.flatMap { case (r1, c1, r2, c2) =>
          anchor.get((r1.toLong, c1.toLong)).toSeq.flatMap { v =>
            for { r <- r1.toLong to r2.toLong; c <- c1.toLong to c2.toLong
              if !have((r, c)) } yield (file, sh.name, (si + 1).toLong, r, c, v)
          }
        }
        base ++ fills
      }
    }.toDF("file", "sheet", "sheet_idx", "row_idx", "col_idx", "value")
  }

  def writeXlsFixture(dir: String): String =
    writeFiles(dir, xlsFixtureData.map { case (name, d1904, split, pad, sheets) =>
      name -> graft.sources.Xls.writeXls(sheets, date1904 = d1904,
        splitSst = split, padTo = pad)
    })

  /** m30 — legacy .xls (BIFF8): both CFB placements (mini stream +
    * regular FAT), SST CONTINUE stitching, RK/MULRK, FORMULA cached
    * values, date XFs under both epochs, merged-region anchor fill —
    * through the same long Cell shape as the XLSX scan, so S1-S3
    * operators are format-blind. Oracle replays the fixture
    * definition. */
  private def m30(s: SparkSession, d: String): DataFrame = {
    val dir = writeXlsFixture(graft.util.Scratch.dir("xls_legacy"))
    graft.sources.Xls.read(s, dir).toDF()
      .orderBy("file", "sheet_idx", "row_idx", "col_idx")
  }
  private val m30Sql =
    """SELECT file, sheet, sheet_idx, row_idx, col_idx, value
       FROM read_parquet('__FIXTURES__/xls_expected/*.parquet')
       ORDER BY file, sheet_idx, row_idx, col_idx"""

  // ---- positioned PDF: table-region scan (S5-S7) --------------------

  /** Positioned fixture: filings whose pages carry a real table region
    * plus headers/footers/margin notes OUTSIDE the crop area — the
    * shapes tabula's fixed-area read cuts through. "(6500)" exercises
    * escaped parentheses surviving the round trip. */
  def pdfPosFixtureData: Seq[(String, Seq[Seq[(Int, Int, String)]])] = Seq(
    "tbl_2023.pdf" -> Seq(
      Seq(
        (72, 720, "LAPORAN POSISI KEUANGAN"),
        (72, 700, "PT Contoh Tbk"),
        (72, 640, "Pos"), (250, 640, "2023"), (380, 640, "2022"),
        (72, 620, "Kas dan setara kas"), (250, 620, "1500.5"), (380, 620, "1200.25"),
        (72, 600, "Piutang usaha"), (250, 600, "800"), (380, 600, "650.75"),
        (72, 580, "Jumlah aset"), (250, 580, "2300.5"), (380, 580, "1851"),
        (72, 80, "Lihat catatan terlampir")),
      Seq(
        (72, 640, "Pendapatan"), (250, 640, "9000"),
        (72, 620, "Beban pokok"), (250, 620, "(6500)"),
        (72, 560, "di luar area"))),
    "tbl_2024.pdf" -> Seq(
      Seq(
        (72, 640, "Pos"), (250, 640, "2024"),
        (72, 620, "Kas dan setara kas"), (250, 620, "1750"),
        (450, 620, "margin-note"),
        (72, 300, "Paragraf lain"))),
    // a LANDSCAPE statement page (/Rotate 90): these cells are given
    // in DISPLAYED coordinates (what a viewer shows, what tabula's
    // area crop is expressed against); the writer inverts the display
    // mapping so the stored text origins sit in unrotated user space —
    // a parser that ignores /Rotate reads the wrong region here
    "tbl_rot_2025.pdf" -> Seq(
      Seq(
        (72, 600, "Pos"), (250, 600, "2025"),
        (72, 580, "Kas dan setara kas"), (250, 580, "1900"),
        (500, 580, "landscape-margin"),
        (72, 300, "Paragraf bawah"))))

  /** Per-file page rotations for the positioned fixture (0 = absent). */
  def pdfPosRotates: Map[String, Seq[Int]] =
    Map("tbl_rot_2025.pdf" -> Seq(90))

  def writePdfPosFixture(dir: String): String =
    writeFiles(dir, pdfPosFixtureData.map { case (name, pages) =>
      name -> Pdf.writePdfPositioned(pages, pdfPosRotates.getOrElse(name, Seq.empty))
    })

  /** Expected positioned cells straight from the fixture definition. */
  def pdfPosExpected(s: SparkSession): DataFrame = {
    import s.implicits._
    (for {
      (file, pages) <- pdfPosFixtureData
      (cells, pi) <- pages.zipWithIndex
      (x, y, text) <- cells
    } yield (file, (pi + 1).toLong, x.toLong, y.toLong, text))
      .toDF("file", "page", "x", "y", "text")
  }

  private def pdfPosDir: String = graft.util.Scratch.dir("pdf_pos")

  /** m07 — fixed-area table-region scan over real positioned bytes
    * (the reference's tabula `read_pdf(area=..)`, test_uploadPDF.py:
    * 31-34): crop to the table rectangle, rebuild the row/column grid
    * from geometry. Headers, footers, and margin notes fall outside
    * the area and must not appear. */
  private def m07(s: SparkSession, d: String): DataFrame = {
    val dir = writePdfPosFixture(pdfPosDir)
    Pdf.tableRegion(s, dir, 60, 570, 400, 650)
  }

  /** m08 — ORC sink + source round-trip (the second columnar format a
    * Spark-native engine must speak; the reference's durable store is
    * row-oriented MySQL, this is the columnar equivalent at scale).
    * The documents table is written as ORC, read back through the ORC
    * reader, and reduced to a per-language content digest (md5-derived
    * per-row hash, summed) — the oracle computes the SAME digest over
    * the parquet originals, so a hash match certifies every byte of
    * every column survived the format round-trip, not just row counts.
    * Scale: ORC write/read is fully parallel per partition; the digest
    * aggregation shuffles |langs| rows.
    */
  private def m08(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = graft.util.Scratch.dir("orc_docs")
    graft.sources.Tables.documents(s, d).write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .withColumn("digest", h60(concat_ws("|",
        $"doc_id", $"text", $"lang", $"source", $"n_chars")) % 1000000007L)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"),
        sum($"digest").as("digest_sum"))
      .orderBy($"lang")
  }
  private val m08Sql =
    """SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(sum(('0x' || substr(md5(
             doc_id || '|' || text || '|' || lang || '|' || source || '|' || n_chars),
           1, 15))::BIGINT % 1000000007) AS BIGINT) AS digest_sum
       FROM documents GROUP BY lang ORDER BY lang"""

  /** m09 — SCHEMA EVOLUTION across parquet generations (mergeSchema):
    * two generations of the same fact written with different column
    * sets (v1 carries custkey, v2 added totalprice-cents), read back
    * as ONE table whose schema is the union — missing columns
    * null-fill per generation. This is how a long-lived 100 TB
    * warehouse actually looks (columns appear over time; old files
    * are never rewritten), and `mergeSchema` is the Spark contract
    * for it: footer union at planning, per-file projection at scan,
    * no data movement. The digest aggregate proves both generations'
    * values and the null-fill survived exactly.
    */
  private def m09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = graft.util.Scratch.dir("m09")
    val orders = graft.sources.Tables.orders(s, d)
    orders.select($"o_orderkey", $"o_custkey")
      .write.mode("overwrite").parquet(s"$base/gen=1")
    orders.select($"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .write.mode("overwrite").parquet(s"$base/gen=2")
    s.read.option("mergeSchema", "true").parquet(base)
      .groupBy($"gen")
      .agg(count(lit(1)).as("n_rows"),
        count($"o_custkey").as("nn_custkey"),
        count($"cents").as("nn_cents"),
        sum($"o_orderkey").as("sum_key"),
        coalesce(sum($"cents"), lit(0L)).as("sum_cents"))
      .select($"gen".cast("int").as("gen"), $"n_rows", $"nn_custkey",
        $"nn_cents", $"sum_key", $"sum_cents")
      .orderBy($"gen")
  }
  private val m09Sql =
    """SELECT 1 AS gen, count(*) AS n_rows, count(*) AS nn_custkey,
         CAST(0 AS BIGINT) AS nn_cents,
         CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
         CAST(0 AS BIGINT) AS sum_cents
       FROM orders
       UNION ALL
       SELECT 2, count(*), CAST(0 AS BIGINT), count(*),
         CAST(sum(o_orderkey) AS BIGINT),
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       FROM orders
       ORDER BY gen"""

  /** Raw frame-0 pixels of the synthetic media corpus, straight from
    * the generator formula — the codec under test (PNG encode + ImageIO
    * decode) never touches these rows; m10's oracle recomputes the
    * features from them in DuckDB. */
  def pixelsExpected(s: SparkSession): DataFrame = {
    import s.implicits._
    (for {
      id <- 0L until 12L
      w = 8 + (id % 5).toInt
      h = 6 + (id % 3).toInt
      i <- 0 until w * h
    } yield (id, w.toLong, h.toLong, i.toLong,
      Multimodal.syntheticPixel(id, i).toLong))
      .toDF("media_id", "width", "height", "px_idx", "value")
  }

  /** m10 — REAL pixel decode: grayscale-PNG payloads (filmstrip PNGs
    * for video rows) decoded through `javax.imageio.ImageIO` inside the
    * batched `mapPartitions`, reduced to per-image frame-0 features
    * (mean / max / 4-bucket histogram). The oracle recomputes the same
    * features in DuckDB from the raw generator pixels, so a hash match
    * certifies the full encode -> JDK codec -> feature path bit-exactly
    * (PNG gray 8-bit is lossless). Scale: decode is map-side per
    * payload; only the few feature columns ever shuffle (|media| rows).
    */
  private def m10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Multimodal.imageFeatures(Multimodal.syntheticMedia(s, 12)).toDF()
      .select($"media_id",
        $"width".cast("long").as("width"),
        $"height".cast("long").as("height"),
        $"mean_intensity",
        $"max_intensity".cast("long").as("max_intensity"),
        element_at($"histogram", 1).as("h0"),
        element_at($"histogram", 2).as("h1"),
        element_at($"histogram", 3).as("h2"),
        element_at($"histogram", 4).as("h3"))
      .orderBy("media_id")
  }
  // exact-division mean: (double)sum / (double)count in both engines —
  // one IEEE op over exact integers, bit-identical across engines
  private val m10Sql =
    """SELECT media_id,
         CAST(max(width) AS BIGINT) AS width,
         CAST(max(height) AS BIGINT) AS height,
         CAST(sum(value) AS DOUBLE) / count(*) AS mean_intensity,
         CAST(max(value) AS BIGINT) AS max_intensity,
         CAST(sum(CASE WHEN value < 64 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
         CAST(sum(CASE WHEN value >= 64 AND value < 128 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
         CAST(sum(CASE WHEN value >= 128 AND value < 192 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
         CAST(sum(CASE WHEN value >= 192 THEN 1 ELSE 0 END) AS BIGINT) AS h3
       FROM read_parquet('__FIXTURES__/pixels_expected/*.parquet')
       GROUP BY media_id ORDER BY media_id"""

  /** DECODED pixels of the JPEG corpus — the m32 oracle's input. JPEG
    * is LOSSY, so the generator pixels are NOT the decode (unlike m10's
    * PNG): this dump encodes each image through the quality-pinned
    * writer and reads the raster back with a straight-line ImageIO
    * decode, independent of the distributed query path (no Dataset, no
    * mapPartitions, no frame slicing). The gate then certifies that the
    * Spark plumbing reproduces these features exactly. */
  def jpegPixelsExpected(s: SparkSession): DataFrame = {
    import s.implicits._
    (for {
      id <- 0L until 12L
      w = 8 + (id % 5).toInt
      h = 6 + (id % 3).toInt
      img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        Multimodal.encodeGrayJpeg(w, h,
          Array.tabulate(w * h)(i => Multimodal.syntheticPixel(id, i).toByte))))
      i <- 0 until w * h
    } yield (id, w.toLong, h.toLong, i.toLong,
      img.getRaster.getSample(i % w, i / w, 0).toLong))
      .toDF("media_id", "width", "height", "px_idx", "value")
  }

  /** m32 — JPEG decode under the gate: the same feature path as m10
    * (batched mapPartitions decode → mean/max/histogram) over grayscale
    * JPEG payloads — the format real image corpora overwhelmingly ship
    * in. The oracle recomputes the features in DuckDB from
    * [[jpegPixelsExpected]], the independently dumped DECODE (never the
    * generator pixels — JPEG is lossy). Scale: identical to m10 —
    * decode is map-side per payload, only feature columns shuffle. */
  private def m32(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Multimodal.imageFeatures(Multimodal.syntheticJpegMedia(s, 12)).toDF()
      .select($"media_id",
        $"width".cast("long").as("width"),
        $"height".cast("long").as("height"),
        $"mean_intensity",
        $"max_intensity".cast("long").as("max_intensity"),
        element_at($"histogram", 1).as("h0"),
        element_at($"histogram", 2).as("h1"),
        element_at($"histogram", 3).as("h2"),
        element_at($"histogram", 4).as("h3"))
      .orderBy("media_id")
  }
  private val m32Sql =
    """SELECT media_id,
         CAST(max(width) AS BIGINT) AS width,
         CAST(max(height) AS BIGINT) AS height,
         CAST(sum(value) AS DOUBLE) / count(*) AS mean_intensity,
         CAST(max(value) AS BIGINT) AS max_intensity,
         CAST(sum(CASE WHEN value < 64 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
         CAST(sum(CASE WHEN value >= 64 AND value < 128 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
         CAST(sum(CASE WHEN value >= 128 AND value < 192 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
         CAST(sum(CASE WHEN value >= 192 THEN 1 ELSE 0 END) AS BIGINT) AS h3
       FROM read_parquet('__FIXTURES__/jpeg_pixels_expected/*.parquet')
       GROUP BY media_id ORDER BY media_id"""

  /** Raw pixels of EVERY frame of the synthetic corpus's video rows,
    * straight from the generator — certifies the filmstrip frame
    * slicing, which pixelsExpected (frame 0 only) cannot. */
  def framePixelsExpected(s: SparkSession): DataFrame = {
    import s.implicits._
    (for {
      id <- 0L until 12L
      if id % 4 == 0
      w = 8 + (id % 5).toInt
      h = 6 + (id % 3).toInt
      f <- 0 until 4
      i <- 0 until w * h
    } yield (id, f.toLong, i.toLong,
      Multimodal.syntheticPixel(id, f * w * h + i).toLong))
      .toDF("media_id", "frame", "px_idx", "value")
  }

  /** m12 — video FRAME SAMPLING under the gate: every stride-2 frame of
    * the filmstrip PNGs decoded through ImageIO and reduced to its mean
    * intensity; the oracle recomputes the same means from the raw
    * generator pixels of those frames. A hash match certifies the frame
    * band arithmetic (frame f = scanline rows f*h..(f+1)*h) — the part
    * of the video path m10's frame-0 check never touches. */
  private def m12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Multimodal.sampleFrames(Multimodal.syntheticMedia(s, 12), stride = 2).toDF()
      .select($"media_id", $"frame_no".cast("long").as("frame_no"),
        $"mean_intensity")
      .orderBy("media_id", "frame_no")
  }
  private val m12Sql =
    """SELECT media_id, CAST(frame AS BIGINT) AS frame_no,
         CAST(sum(value) AS DOUBLE) / count(*) AS mean_intensity
       FROM read_parquet('__FIXTURES__/frame_pixels_expected/*.parquet')
       WHERE frame % 2 = 0
       GROUP BY media_id, frame ORDER BY media_id, frame"""

  /** Raw samples of the synthetic audio corpus, straight from the
    * generator — the WAV codec never touches these rows. */
  def audioExpected(s: SparkSession): DataFrame = {
    import s.implicits._
    (for {
      id <- 0L until 12L
      n = 400 + (id % 5).toInt * 100
      i <- 0 until n
    } yield (id, 8000L, i.toLong, Multimodal.syntheticSample(id, i).toLong))
      .toDF("media_id", "sample_rate", "idx", "value")
  }

  /** m11 — REAL audio decode: 16-bit mono PCM WAV payloads decoded
    * through `javax.sound.sampled.AudioSystem` (the JDK's built-in WAV
    * codec) inside the batched `mapPartitions`, reduced to per-clip
    * integer features (sample count, duration, extrema, sum |v|, sum
    * v^2). The oracle recomputes the same features from the raw
    * generator samples, so a hash match certifies the RIFF encode ->
    * JDK codec -> feature path exactly — including the fmt-chunk
    * sample rate, which the decode reads from the bytes, not the
    * metadata struct. Scale: like m10, decode is map-side per payload;
    * only |clips| feature rows shuffle. */
  private def m11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Multimodal.audioFeatures(Multimodal.syntheticAudio(s, 12)).toDF()
      .orderBy("media_id")
  }
  private val m11Sql =
    """SELECT media_id,
         CAST(max(sample_rate) AS BIGINT) AS sample_rate,
         CAST(count(*) AS BIGINT) AS n_samples,
         CAST(count(*) * 1000 // max(sample_rate) AS BIGINT) AS duration_ms,
         CAST(max(value) AS BIGINT) AS max_amp,
         CAST(min(value) AS BIGINT) AS min_amp,
         CAST(sum(abs(value)) AS BIGINT) AS sum_abs,
         CAST(sum(value * value) AS BIGINT) AS energy
       FROM read_parquet('__FIXTURES__/audio_expected/*.parquet')
       GROUP BY media_id ORDER BY media_id"""

  /** m13 — parquet compression-codec matrix round-trip: the same table
    * written under each production codec (gzip, lz4, snappy, zstd) and
    * read back to an identical per-codec content digest (m08's
    * md5-derived row hash, summed). Codec choice is a first-order knob
    * at 100 TB (scan speed vs storage); this certifies the engine
    * writes and reads every codec bit-exactly — the oracle computes
    * the digest once from the originals and emits one identical row
    * per codec, because codecs must be invisible to content, and the
    * gate proves they are.
    */
  private def m13(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val codecs = Seq("gzip", "lz4", "snappy", "zstd")
    codecs.map { c =>
      val dir = graft.util.Scratch.dir(s"codec_$c")
      graft.sources.Tables.documents(s, d)
        .write.mode("overwrite").option("compression", c).parquet(dir)
      s.read.parquet(dir)
        .withColumn("digest", h60(concat_ws("|",
          $"doc_id", $"text", $"lang", $"source", $"n_chars")) % 1000000007L)
        .agg(count(lit(1)).as("n_docs"), sum($"digest").as("digest_sum"))
        .withColumn("codec", lit(c))
    }.reduce(_ unionByName _)
      .select($"codec", $"n_docs", $"digest_sum")
      .orderBy($"codec")
  }
  private val m13Sql =
    """WITH digest AS (
         SELECT count(*) AS n_docs,
           CAST(sum(('0x' || substr(md5(
               doc_id || '|' || text || '|' || lang || '|' || source || '|' || n_chars),
             1, 15))::BIGINT % 1000000007) AS BIGINT) AS digest_sum
         FROM documents)
       SELECT codec, n_docs, digest_sum
       FROM digest, (VALUES ('gzip'), ('lz4'), ('snappy'), ('zstd')) AS c(codec)
       ORDER BY codec"""

  /** RFC4180-shaped CSV with deliberately malformed rows: a non-numeric
    * key, a short row, and an over-long row, among good rows exercising
    * empty fields, quoted commas, doubled-quote escapes, scientific
    * notation, negatives, and non-ASCII text. One string per physical
    * line; the header is element 0. Shared verbatim by the m14 reader
    * (via scratch) and the Verify fixture dump (via text files), so
    * Spark's PERMISSIVE parser and DuckDB's CSV reader parse
    * byte-identical input independently. */
  val csvRawLines: Seq[String] = Seq(
    "id,amount,note",
    "1,10.5,alpha",
    "2,,beta",
    "3,3.25,\"hello, world\"",
    "4,1.5,\"say \"\"hi\"\"\"",
    "oops,2.0,badid",
    "5,2.75",
    "6,4.0,gamma,extra",
    "7,1.5e2,sci",
    "8,-7.25,neg",
    "9,0.5,unicode ✓",
  )

  def csvRawFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    csvRawLines.toDF("value")
  }

  /** Parsed CSV schema plus the corrupt-record capture column; shared
    * by m14 and the spec that pins exactly which raw lines are
    * quarantined. */
  def readCsvPermissive(s: SparkSession): DataFrame = {
    val dir = new java.io.File(graft.util.Scratch.dir("csv_raw"))
    java.nio.file.Files.write(new java.io.File(dir, "raw.csv").toPath,
      (csvRawLines.mkString("\n") + "\n").getBytes("UTF-8"))
    s.read
      .schema("id BIGINT, amount DOUBLE, note STRING, _corrupt_record STRING")
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      // doubled-quote escaping (RFC4180), matching DuckDB — Spark's
      // default escape is backslash
      .option("escape", "\"")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir.getAbsolutePath)
  }

  /** m14 — malformed-CSV ingest robustness: web-scale CSV always has
    * bad rows, and at 100 TB the parser must quarantine them row-by-row
    * inside the scan (PERMISSIVE + corrupt-record column), never fail
    * the job or silently skew the data. The oracle is genuinely
    * independent: DuckDB's own CSV parser reads the identical bytes
    * with ignore_errors and must agree on exactly which rows are good
    * and every parsed value — two unrelated parser implementations
    * converging on the same RFC4180 reading. The quarantined rows
    * themselves are pinned by IngestSpec (DuckDB drops rather than
    * captures them, so they are spec-gated, not oracle-gated).
    */
  private def m14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    readCsvPermissive(s)
      .filter($"_corrupt_record".isNull)
      .select($"id", $"amount", $"note")
      .orderBy($"id")
  }
  private val m14Sql =
    """SELECT id, amount, note
       FROM read_csv('__FIXTURES__/csv_raw/*.txt', header=true,
         columns={'id': 'BIGINT', 'amount': 'DOUBLE', 'note': 'VARCHAR'},
         ignore_errors=true)
       ORDER BY id"""

  /** m15 — image RESIZE under the gate: every synthetic payload decoded
    * through the REAL ImageIO codec and box-downsampled 2× (ragged edge
    * blocks included — widths 8..12 and heights 6..8 exercise both even
    * and odd dims), one row per output pixel with the block sum/count
    * and the rounded mean. The oracle recomputes the identical blocks
    * in DuckDB from the raw generator pixels (y = idx//w, x = idx%w,
    * block = (y//2, x//2); same explicit half-up integer rounding), so
    * a hash match certifies the decode -> box-reduce -> round path
    * exactly. See Multimodal.resizeBox for the scale rationale (resize
    * is map-side and data-reducing — it belongs before wide stages). */
  private def m15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Multimodal.resizeBox(Multimodal.syntheticMedia(s, 12), factor = 2).toDF()
      .select($"media_id", $"by".cast("long").as("blk_y"),
        $"bx".cast("long").as("blk_x"), $"n_px".cast("long").as("n_px"),
        $"px_sum", $"px_avg".cast("long").as("px_avg"))
      .orderBy($"media_id", $"blk_y", $"blk_x")
  }
  private val m15Sql =
    """SELECT media_id, (px_idx // width) // 2 AS blk_y,
         (px_idx % width) // 2 AS blk_x,
         count(*) AS n_px, CAST(sum(value) AS BIGINT) AS px_sum,
         CAST((2 * sum(value) + count(*)) // (2 * count(*)) AS BIGINT) AS px_avg
       FROM read_parquet('__FIXTURES__/pixels_expected/*.parquet')
       GROUP BY media_id, blk_y, blk_x
       ORDER BY media_id, blk_y, blk_x"""

  /** m16 — audio FRAME WINDOWING under the gate: every WAV payload
    * decoded through the real JDK codec and split into 100-sample
    * frames with per-frame integer features including ZERO CROSSINGS
    * (the VAD-style periodicity signal). The oracle recomputes the
    * identical frames from the raw generator samples — frame = idx
    * div 100, crossings via a lag window within each clip — so a hash
    * match certifies the codec -> window -> feature path exactly.
    * Complements m11 (clip-level) the way m12 complements m10. */
  private def m16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Multimodal.audioFrames(Multimodal.syntheticAudio(s, 12), frameLen = 100)
      .toDF()
      .select($"media_id", $"frame_no".cast("long").as("frame_no"),
        $"n_samples".cast("long").as("n_samples"),
        $"max_amp".cast("long").as("max_amp"), $"sum_abs", $"energy",
        $"zero_crossings".cast("long").as("zero_crossings"))
      .orderBy($"media_id", $"frame_no")
  }
  private val m16Sql =
    """WITH s AS (
         SELECT media_id, idx, value, idx // 100 AS frame_no,
           lag(value) OVER (PARTITION BY media_id ORDER BY idx) AS prev
         FROM read_parquet('__FIXTURES__/audio_expected/*.parquet'))
       SELECT media_id, frame_no, count(*) AS n_samples,
         CAST(max(value) AS BIGINT) AS max_amp,
         CAST(sum(abs(value)) AS BIGINT) AS sum_abs,
         CAST(sum(value * value) AS BIGINT) AS energy,
         CAST(sum(CASE WHEN idx % 100 <> 0 AND prev IS NOT NULL
                        AND ((value >= 0) <> (prev >= 0))
                  THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
       FROM s GROUP BY media_id, frame_no
       ORDER BY media_id, frame_no"""

  // ---- WebDataset-style tar shards (sources/Tar) --------------------

  /** Deterministic shard corpus for the tar connector: two shards of
    * `<sample_key>.<part>` members (the WebDataset layout) covering a
    * multi-part sample, a payload spanning multiple 512-byte blocks,
    * an empty member, and a key whose parts differ across shards. */
  def tarFixtureData: Seq[(Long, Seq[(String, Array[Byte])])] = {
    def txt(id: Long): Array[Byte] =
      (s"sample $id text " + ("x" * (id.toInt % 5 + 1))).getBytes("US-ASCII")
    def cls(id: Long): Array[Byte] = s"${id % 3}".getBytes("US-ASCII")
    Seq(
      0L -> Seq(
        "000000.txt" -> txt(0), "000000.cls" -> cls(0),
        "000001.txt" -> txt(1), "000001.cls" -> cls(1),
        "000001.json" -> """{"k":1}""".getBytes("US-ASCII")),
      1L -> Seq(
        "000002.txt" -> txt(2),
        "000002.bin" -> Array.tabulate(700)(i => ((i * 37 + 11) & 0xff).toByte),
        // multi-dot part: WebDataset's part is everything after the
        // FIRST dot, so this member's part is "seg.json", not "json" —
        // the case that catches a last-segment derivation
        "000002.seg.json" -> """{"s":2}""".getBytes("US-ASCII"),
        "000003.txt" -> Array.emptyByteArray,
        "000003.cls" -> cls(3)))
  }

  /** Shard rows as the query side sees them: real ustar bytes. */
  def tarShards(s: SparkSession): DataFrame = {
    import s.implicits._
    tarFixtureData.map { case (id, ms) => (id, Tar.write(ms)) }
      .toDF("shard_id", "tar")
  }

  /** Parser-independent expected member table (oracle side): derived
    * from the generator member list directly — never through
    * Tar.parse — so the oracle certifies the writer->parser round
    * trip against intent, not against itself. */
  def tarExpected(s: SparkSession): DataFrame = {
    import s.implicits._
    tarFixtureData.flatMap { case (id, ms) =>
      ms.map { case (name, payload) =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val sha = md.digest(payload).map(b => f"$b%02x").mkString
        (id, name, payload.length.toLong, sha)
      }
    }.toDF("shard_id", "name", "n_bytes", "sha")
  }

  /** m17 — tar shard MEMBER EXTRACTION: parse each shard's ustar bytes
    * (checksum-verified), emit per-member metadata + SHA-256, and
    * derive the WebDataset sample key / part from the member name.
    * Payloads are dropped map-side right after hashing — nothing
    * binary survives to the ORDER BY exchange. */
  private def m17(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tar.members(tarShards(s), $"shard_id", $"tar").toDF()
      .select($"shard_id", $"name", col("size").as("n_bytes"),
        sha2($"payload", 256).as("sha"),
        substring_index($"name", ".", 1).as("sample_key"),
        // WebDataset part = everything after the FIRST dot ("seg.json"
        // for a multi-dot member), empty when the name has no dot
        when(instr($"name", ".") === 0, lit(""))
          .otherwise(expr("substring(name, instr(name, '.') + 1)")).as("part"))
      .orderBy($"shard_id", $"name")
  }
  private val m17Sql =
    """SELECT shard_id, name, n_bytes, sha,
         split_part(name, '.', 1) AS sample_key,
         CASE WHEN instr(name, '.') = 0 THEN ''
              ELSE substring(name, instr(name, '.') + 1) END AS part
       FROM read_parquet('__FIXTURES__/tar_expected/*.parquet')
       ORDER BY shard_id, name"""

  /** m18 — WebDataset SAMPLE ASSEMBLY: group a shard's members by
    * sample key into one row per training sample (part count, total
    * bytes, sorted part list) — the unit a multimodal loader consumes.
    * The groupBy key is (shard, key): samples never span shards, so at
    * scale this aggregation is shard-local by construction. */
  private def m18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tar.members(tarShards(s), $"shard_id", $"tar").toDF()
      .select($"shard_id", substring_index($"name", ".", 1).as("sample_key"),
        // part = after the FIRST dot, same convention as m17
        when(instr($"name", ".") === 0, lit(""))
          .otherwise(expr("substring(name, instr(name, '.') + 1)")).as("part"),
        col("size").as("n_bytes"))
      .groupBy($"shard_id", $"sample_key")
      .agg(count(lit(1)).as("n_parts"), sum($"n_bytes").as("total_bytes"),
        array_join(sort_array(collect_list($"part")), ",").as("parts"))
      .orderBy($"shard_id", $"sample_key")
  }
  private val m18Sql =
    """SELECT shard_id, split_part(name, '.', 1) AS sample_key,
         count(*) AS n_parts, CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         string_agg(CASE WHEN instr(name, '.') = 0 THEN ''
                         ELSE substring(name, instr(name, '.') + 1) END, ','
           ORDER BY CASE WHEN instr(name, '.') = 0 THEN ''
                         ELSE substring(name, instr(name, '.') + 1) END) AS parts
       FROM read_parquet('__FIXTURES__/tar_expected/*.parquet')
       GROUP BY 1, 2 ORDER BY shard_id, sample_key"""

  /** m19 — WebDataset EXPORT: the write side of m17's read path. The
    * documents corpus is sharded (doc_id div 100 — deterministic and
    * co-locatable), each shard's members sorted by id and packed into
    * a REAL ustar archive in one mapGroups task; the emitted row
    * carries the member count, payload bytes, the ARCHIVE byte size,
    * and a parse-back integrity bit. The oracle recomputes the exact
    * tar framing law — 512·(members + Σ⌈len/512⌉) + 1024 — from the
    * raw documents, so a framing bug (padding, trailer, header count)
    * breaks the hash even though DuckDB never builds a tar. Scale:
    * shard assembly is one groupBy exchange of (shard, text) rows;
    * each archive is built and discarded task-side (only its length
    * survives) — the real export would write the bytes to object
    * storage from the same task. */
  private def m19(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.sources.Tables.documents(s, d)
      .select(expr("doc_id div 100").as("shard_id"), $"doc_id", $"text")
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (sid, it) =>
        val members = it.toSeq.sortBy(_._2).map { case (_, id, text) =>
          (f"$id%09d.txt", text.getBytes("UTF-8"))
        }
        val tar = Tar.write(members)
        val reparsed = Tar.parse(sid, tar).toSeq
        val ok = reparsed.map(_.name) == members.map(_._1) &&
          reparsed.zip(members).forall { case (m, (_, p)) =>
            java.util.Arrays.equals(m.payload, p) }
        (sid, members.size.toLong,
          members.map(_._2.length.toLong).sum, tar.length.toLong, ok)
      }
      .toDF("shard_id", "n_members", "payload_bytes", "tar_bytes",
        "round_trip_ok")
      .orderBy($"shard_id")
  }
  private val m19Sql =
    """SELECT doc_id // 100 AS shard_id, count(*) AS n_members,
         CAST(sum(strlen(text)) AS BIGINT) AS payload_bytes,
         CAST(512 * (count(*) + sum((strlen(text) + 511) // 512)) + 1024
              AS BIGINT) AS tar_bytes,
         TRUE AS round_trip_ok
       FROM documents GROUP BY 1 ORDER BY shard_id"""

  val queries: Map[String, QueryFn] = Map(
    "m19_tar_export" -> m19 _,
    "m18_tar_samples" -> m18 _,
    "m17_tar_members" -> m17 _,
    "m16_audio_frames" -> m16 _,
    "m15_image_resize" -> m15 _,
    "m14_csv_malformed" -> m14 _,
    "m13_codec_matrix" -> m13 _,
    "m12_frame_sample" -> m12 _,
    "m11_audio_decode" -> m11 _,
    "m10_pixel_decode" -> m10 _,
    "m09_schema_evolution" -> m09 _,
    "m08_orc_roundtrip" -> m08 _,
    "m01_format_sniff" -> m01 _,
    "m02_png_metadata" -> m02 _,
    "m03_xlsx_cells" -> m03 _,
    "m04_sheet_discovery" -> m04 _,
    "m06_pdf_page_search" -> m06 _,
    "m07_pdf_table_region" -> m07 _,
    "m21_xlsx_roundtrip" -> m21 _,
    "m24_xlsx_merged" -> m24 _,
    "m28_pdf_password" -> m28 _,
    "m29_pdf_lattice" -> m29 _,
    "m30_xls_legacy" -> m30 _,
    "m31_pdf_fontprog" -> m31 _,
    "m32_jpeg_decode" -> m32 _,
    "p04_pdf_report" -> p04 _,
  ) ++ pdfTextGates.map(g => g.query -> pdfTextQuery(g))

  // DuckDB reads the payload as BLOB; hex() gives the uppercase hex
  // string, so byte offset k maps to hex chars (k-1)*2+1 .. len*2.
  private val m01Sql =
    """SELECT media_id,
         CASE WHEN substr(hex(content), 1, 16) = '89504E470D0A1A0A' THEN 'png'
              WHEN substr(hex(content), 1, 6) = 'FFD8FF' THEN 'jpeg'
              WHEN substr(hex(content), 1, 8) = '52494646'
               AND substr(hex(content), 17, 8) = '57415645' THEN 'wav'
              ELSE 'unknown' END AS format
       FROM read_parquet('__FIXTURES__/media/*.parquet')
       ORDER BY media_id"""

  private val m02Sql =
    """SELECT media_id,
         CASE WHEN substr(hex(content), 1, 16) = '89504E470D0A1A0A'
              THEN ('0x' || substr(hex(content), 33, 8))::BIGINT END AS width,
         CASE WHEN substr(hex(content), 1, 16) = '89504E470D0A1A0A'
              THEN ('0x' || substr(hex(content), 41, 8))::BIGINT END AS height,
         CASE WHEN substr(hex(content), 1, 16) = '89504E470D0A1A0A'
              THEN ('0x' || substr(hex(content), 49, 2))::BIGINT END AS bit_depth,
         CASE WHEN substr(hex(content), 1, 16) = '89504E470D0A1A0A'
              THEN ('0x' || substr(hex(content), 51, 2))::BIGINT END AS color_type
       FROM read_parquet('__FIXTURES__/media/*.parquet')
       ORDER BY media_id"""

  private val m03Sql =
    """SELECT file, sheet, sheet_idx, row_idx, col_idx, value
       FROM read_parquet('__FIXTURES__/xlsx_expected/*.parquet')
       ORDER BY file, sheet_idx, row_idx, col_idx"""

  // first match in file-then-DECLARED-sheet order (reference walk order)
  private val m04Sql =
    """SELECT file, sheet, n_hits FROM (
         SELECT file, sheet, sheet_idx, count(*) AS n_hits
         FROM read_parquet('__FIXTURES__/xlsx_expected/*.parquet')
         WHERE contains(lower(value), 'laba')
         GROUP BY file, sheet, sheet_idx
         ORDER BY file, sheet_idx LIMIT 1)"""

  private val m06Sql =
    """SELECT file, page, n_hits FROM (
         SELECT file, page, n_hits,
           row_number() OVER (PARTITION BY file ORDER BY page) AS rk
         FROM (
           SELECT file, page, count(*) AS n_hits
           FROM read_parquet('__FIXTURES__/pdf_expected/*.parquet')
           WHERE contains(lower(text), 'laba')
           GROUP BY file, page))
       WHERE rk = 1 ORDER BY file"""

  // same crop + grid reconstruction over the parser-independent
  // expected-cell dump; rank functions are BIGINT in both engines
  private val m07Sql =
    """SELECT file, page, row_idx, col_idx, x, y, value FROM (
         SELECT file, page, x, y, text AS value,
           dense_rank() OVER (PARTITION BY file, page ORDER BY y DESC) AS row_idx,
           row_number() OVER (PARTITION BY file, page, y ORDER BY x) AS col_idx
         FROM read_parquet('__FIXTURES__/pdf_pos_expected/*.parquet')
         WHERE x BETWEEN 60 AND 400 AND y BETWEEN 570 AND 650)
       ORDER BY file, page, row_idx, col_idx"""

  val oracle: Map[String, String] = Map(
    "m19_tar_export" -> m19Sql,
    "m18_tar_samples" -> m18Sql,
    "m17_tar_members" -> m17Sql,
    "m16_audio_frames" -> m16Sql,
    "m15_image_resize" -> m15Sql,
    "m14_csv_malformed" -> m14Sql,
    "m13_codec_matrix" -> m13Sql,
    "m12_frame_sample" -> m12Sql,
    "m11_audio_decode" -> m11Sql,
    "m10_pixel_decode" -> m10Sql,
    "m09_schema_evolution" -> m09Sql,
    "m08_orc_roundtrip" -> m08Sql,
    "m01_format_sniff" -> m01Sql,
    "m02_png_metadata" -> m02Sql,
    "m03_xlsx_cells" -> m03Sql,
    "m04_sheet_discovery" -> m04Sql,
    "m06_pdf_page_search" -> m06Sql,
    "m07_pdf_table_region" -> m07Sql,
    "m21_xlsx_roundtrip" -> m21Sql,
    "m24_xlsx_merged" -> m24Sql,
    "m28_pdf_password" -> m28Sql,
    "m29_pdf_lattice" -> m29Sql,
    "m30_xls_legacy" -> m30Sql,
    "m31_pdf_fontprog" -> m31Sql,
    "m32_jpeg_decode" -> m32Sql,
    "p04_pdf_report" -> p04Sql,
  ) ++ pdfTextGates.map(g => g.query -> pdfTextSql(g))

  /** Every parquet fixture the oracles above read, by `__FIXTURES__`
    * dir name: what `graft.Verify` dumps. */
  val parquetFixtures: Seq[(String, SparkSession => DataFrame)] = Seq(
    "media" -> fixture _,
    "xlsx_expected" -> xlsxExpected _,
    "pdf_pos_expected" -> pdfPosExpected _,
    "pdf_pwd_expected" -> pdfPwdExpected _,
    "pdf_lattice_expected" -> pdfLatticeExpected _,
    "pdf_fontprog_expected" -> pdfFontProgExpected _,
    "xls_expected" -> xlsExpected _,
    "pixels_expected" -> pixelsExpected _,
    "audio_expected" -> audioExpected _,
    "frame_pixels_expected" -> framePixelsExpected _,
    "jpeg_pixels_expected" -> jpegPixelsExpected _,
    "tar_expected" -> tarExpected _,
  ) ++ pdfTextGates.map(g =>
    s"${g.dir}_expected" -> ((s: SparkSession) => pdfTextExpected(s, g)))
}
