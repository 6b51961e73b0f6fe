package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import javax.xml.stream.XMLInputFactory

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Real binary XLSX source — the reference's entire ingest is
  * `pd.read_excel` over uploaded workbooks (mainTesting.py:456-458) plus
  * sheet discovery by content (`cari_sheet_excel`, mainTesting.py:379-389);
  * round 1 modeled only the post-extraction relational shape. This closes
  * the gap with an actual binary connector: XLSX is a zip of XML parts, so
  * the JDK alone (ZipInputStream + StAX) reads it — no external library.
  *
  * Supported surface: multi-sheet workbooks, shared strings, inline
  * strings, raw numeric cells, and DATE-STYLED numeric cells — XLSX
  * stores dates as day serials whose meaning lives in styles.xml
  * (cellXfs → numFmtId), so a real filing's "Tanggal awal periode"
  * column arrives as e.g. 44927 unless the style is resolved; the
  * reader converts date-styled serials to ISO-8601 text under the
  * 1900-epoch rule including Excel's historical 1900-02-29 leap bug
  * (serial 60). Formulas are out of scope — the reference reads
  * values, not formulas.
  *
  * Spark integration: the connectors' one scan, [[Sources.perFile]],
  * yields one row per top-level `.xlsx` file (any case; path + payload);
  * parsing is a per-file `flatMap` on executors, so
  * a directory of N workbooks parallelizes N-ways and the binary payload
  * never shuffles — only parsed cells (a few strings per row) move. At
  * 100 TB of workbooks the scan stage IS the extraction stage. Cells are
  * surfaced in the long (file, sheet, row, col, value) shape — the same
  * unpivoted form the reference's row loops consume — and relational
  * pivots downstream are ordinary engine queries.
  */
object Xlsx {

  /** `sheet_idx` is the sheet's 1-based position in the workbook's
    * declared order (workbook.xml), NOT alphabetical — the reference's
    * sheet walk (`cari_sheet_excel`, mainTesting.py:379-389) iterates
    * declaration order, so discovery must too. */
  case class Cell(file: String, sheet: String, sheet_idx: Long,
      row_idx: Long, col_idx: Long, value: String)

  /** Read every top-level .xlsx under `dir` into the long cell shape. */
  def read(spark: SparkSession, dir: String): Dataset[Cell] = {
    import spark.implicits._
    Sources.perFile(spark, dir, Seq("xlsx"))(cellsOf(parseWorkbook))
  }

  /** A workbook parser's (sheet, sheetIdx, row, col, value) tuples as
    * one file's [[Cell]] rows — shared by every Excel generation. */
  private[sources] def cellsOf(parse: Array[Byte] => Seq[(String, Long, Long, Long, String)])
      (name: String, bytes: Array[Byte]): Iterator[Cell] =
    parse(bytes).iterator.map { case (sheet, si, r, c, v) => Cell(name, sheet, si, r, c, v) }

  /** Reference `cari_sheet_excel`: the first sheet — file order, then
    * workbook DECLARED sheet order — whose content contains `keyword`,
    * case-insensitively. */
  def discoverSheet(spark: SparkSession, dir: String, keyword: String): DataFrame =
    firstSheetWith(read(spark, dir), keyword)

  /** The one `discoverSheet` body, over cells of any generation. */
  private[sources] def firstSheetWith(cells: Dataset[Cell], keyword: String): DataFrame =
    cells.filter(lower(col("value")).contains(keyword.toLowerCase))
      .groupBy(col("file"), col("sheet_idx"), col("sheet"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("file"), col("sheet_idx"))
      .limit(1)
      .select(col("file"), col("sheet"), col("n_hits"))

  // ---- parser (executor-side, JDK-only) -----------------------------

  /** Parse one workbook payload to (sheetName, sheetIdx, row, col,
    * value) cells, in declared sheet order then document order;
    * sheetIdx is the 1-based declared position.
    *
    * MERGED REGIONS (`<mergeCells>`, ECMA-376 §18.3.1.55) are
    * ANCHOR-FILLED: the top-left cell's value is emitted at every
    * covered position (Excel stores the value only at the anchor and
    * leaves the covered cells absent). Real IDX metadata sheets merge
    * key/title cells across the rows their values span — an
    * anchor-only read silently drops the key from every row but the
    * first, mis-pivoting the reference's KV scan
    * (mainTesting.py:413-431). Covered positions that somehow carry
    * their own cell are never overwritten. */
  def parseWorkbook(bytes: Array[Byte]): Seq[(String, Long, Long, Long, String)] = {
    val parts = readZip(bytes)
    val shared = parts.get("xl/sharedStrings.xml").map(parseSharedStrings)
      .getOrElse(IndexedSeq.empty)
    val dateStyles = parts.get("xl/styles.xml").map(parseDateStyles)
      .getOrElse(Set.empty)
    val date1904 = parts.get("xl/workbook.xml").exists(parseDate1904)
    sheetParts(parts).flatMap { case (sheetName, si, sheetXml) =>
      val (cells, merges) = parseSheet(sheetXml, shared, dateStyles, date1904)
      val have = cells.map { case (r, c, _) => (r, c) }.toSet
      val anchor = cells.map { case (r, c, v) => (r, c) -> v }.toMap
      val filled = merges.flatMap { case (r1, c1, r2, c2) =>
        anchor.get((r1, c1)).toSeq.flatMap { v =>
          for {
            r <- r1 to r2; c <- c1 to c2
            if !have((r, c))
          } yield (r, c, v)
        }
      }
      (cells ++ filled).sortBy(t => (t._1, t._2)).map { case (r, c, v) =>
        (sheetName, si, r, c, v)
      }
    }
  }

  /** Merged regions of every sheet, by declared order: (sheetName,
    * sheetIdx, firstRow, firstCol, lastRow, lastCol). */
  def parseWorkbookMerges(bytes: Array[Byte]): Seq[(String, Long, Long, Long, Long, Long)] =
    sheetParts(readZip(bytes)).flatMap { case (sheetName, si, sheetXml) =>
      parseSheet(sheetXml, IndexedSeq.empty)._2.map { case (r1, c1, r2, c2) =>
        (sheetName, si, r1, c1, r2, c2)
      }
    }

  /** The workbook's sheets in declared order with their 1-based index
    * and worksheet XML, resolved through workbook.xml's relationships;
    * a sheet whose part is missing is skipped. */
  private def sheetParts(parts: Map[String, Array[Byte]]): Seq[(String, Long, Array[Byte])] = {
    val rels = parts.get("xl/_rels/workbook.xml.rels").map(parseRels)
      .getOrElse(Map.empty)
    val sheets = parts.get("xl/workbook.xml").map(parseSheetList)
      .getOrElse(Seq.empty)
    sheets.zipWithIndex.flatMap { case ((sheetName, rid), i) =>
      val target = rels.getOrElse(rid, "")
      val part = if (target.startsWith("/")) target.drop(1) else s"xl/$target"
      parts.get(part).map(xml => (sheetName, (i + 1).toLong, xml))
    }
  }

  /** Merged-region surface over a directory of workbooks — the typed
    * metadata a consumer needs to reason about titles/headers that
    * span cells. */
  def mergedRegions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Sources.perFile(spark, dir, Seq("xlsx")) { (name, bytes) =>
      parseWorkbookMerges(bytes).iterator.map { case (sheet, si, r1, c1, r2, c2) =>
        (name, sheet, si, r1, c1, r2, c2)
      }
    }.toDF("file", "sheet", "sheet_idx", "first_row", "first_col",
        "last_row", "last_col")
  }

  /** workbook.xml → the workbookPr date1904 flag (Mac-origin books
    * count day serials from the 1904 epoch, ECMA-376 §18.2.28). */
  private[graft] def parseDate1904(bytes: Array[Byte]): Boolean = {
    val r = reader(bytes)
    var flag = false
    while (r.hasNext) {
      if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT
          && r.getLocalName == "workbookPr") {
        (0 until r.getAttributeCount).foreach { i =>
          if (r.getAttributeLocalName(i) == "date1904") {
            val v = r.getAttributeValue(i)
            flag = v == "1" || v.equalsIgnoreCase("true")
          }
        }
      }
    }
    r.close()
    flag
  }

  /** Built-in date/time number formats (ECMA-376 §18.8.30). */
  private val BuiltinDateFmts: Set[Int] =
    ((14 to 22) ++ (27 to 36) ++ (45 to 47)).toSet

  /** styles.xml → the set of cellXfs INDEXES (what a cell's `s` attr
    * points at) whose number format is a date/time format: a built-in
    * date id, or a custom format whose code carries date tokens
    * (y/d/h; `m` alone is ambiguous with minutes and always rides with
    * one of the others in real formats). */
  private[graft] def parseDateStyles(bytes: Array[Byte]): Set[Int] = {
    val r = reader(bytes)
    var inCellXfs = false
    val customDate = Set.newBuilder[Int]
    val xfFmts = Seq.newBuilder[Int]
    while (r.hasNext) r.next() match {
      case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
        r.getLocalName match {
          case "numFmt" =>
            var id = -1; var code = ""
            (0 until r.getAttributeCount).foreach { i =>
              r.getAttributeLocalName(i) match {
                case "numFmtId" => id = r.getAttributeValue(i).toInt
                case "formatCode" => code = r.getAttributeValue(i)
                case _ =>
              }
            }
            // strip quoted literals and [] sections before probing
            val bare = code.replaceAll("\"[^\"]*\"", "").replaceAll("\\[[^\\]]*\\]", "")
              .toLowerCase
            if (id >= 0 && bare.exists(c => c == 'y' || c == 'd' || c == 'h'))
              customDate += id
          case "cellXfs" => inCellXfs = true
          case "xf" if inCellXfs =>
            var fmt = 0
            (0 until r.getAttributeCount).foreach { i =>
              if (r.getAttributeLocalName(i) == "numFmtId")
                fmt = r.getAttributeValue(i).toInt
            }
            xfFmts += fmt
          case _ =>
        }
      case javax.xml.stream.XMLStreamConstants.END_ELEMENT
          if r.getLocalName == "cellXfs" => inCellXfs = false
      case _ =>
    }
    r.close()
    val custom = customDate.result()
    xfFmts.result().zipWithIndex.collect {
      case (fmt, idx) if BuiltinDateFmts(fmt) || custom(fmt) => idx
    }.toSet
  }

  /** Excel day serial → ISO-8601 text. 1900 system: the epoch quirk,
    * honored exactly — serial 1 = 1900-01-01, and Excel believes 1900
    * was a leap year, so serial 60 renders the nonexistent 1900-02-29
    * (emitted literally — pandas/openpyxl error here, Excel shows it)
    * and everything ≥ 61 is offset by that phantom day. 1904 system
    * (workbookPr date1904, Mac-origin books): serial 0 = 1904-01-01,
    * no phantom day. A fractional serial is a time of day (emitted
    * only when non-midnight, rounded to the second). */
  private[graft] def serialToIso(serial: Double, date1904: Boolean = false): String = {
    val days = math.floor(serial).toLong
    val frac = serial - days
    val date =
      if (date1904)
        java.time.LocalDate.of(1904, 1, 1).plusDays(days).toString
      else if (days == 60) "1900-02-29"
      else {
        val epoch =
          if (days < 60) java.time.LocalDate.of(1899, 12, 31)
          else java.time.LocalDate.of(1899, 12, 30)
        epoch.plusDays(days).toString
      }
    val secs = math.round(frac * 86400)
    if (secs == 0) date
    else f"$date ${secs / 3600}%02d:${secs / 60 % 60}%02d:${secs % 60}%02d"
  }

  /** Inverse of `serialToIso` for the fixture writer ("yyyy-MM-dd"
    * or "yyyy-MM-dd HH:mm:ss"), including the phantom-day offset. */
  private[graft] def isoToSerial(iso: String): Double = {
    val (d, t) = iso.indexOf(' ') match {
      case -1 => (iso, 0L)
      case sp =>
        val lt = java.time.LocalTime.parse(iso.substring(sp + 1))
        (iso.substring(0, sp), lt.toSecondOfDay.toLong)
    }
    if (d == "1900-02-29") 60.0 + t / 86400.0
    else {
      val ld = java.time.LocalDate.parse(d)
      val epoch =
        if (ld.isBefore(java.time.LocalDate.of(1900, 3, 1)))
          java.time.LocalDate.of(1899, 12, 31)
        else java.time.LocalDate.of(1899, 12, 30)
      java.time.temporal.ChronoUnit.DAYS.between(epoch, ld) + t / 86400.0
    }
  }

  private def readZip(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = Map.newBuilder[String, Array[Byte]]
    var e = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory) out += e.getName -> zin.readAllBytes()
      e = zin.getNextEntry
    }
    zin.close()
    out.result()
  }

  private def reader(bytes: Array[Byte]) = {
    val f = XMLInputFactory.newInstance()
    // the payload is untrusted input: no DTDs, no external entities
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes))
  }

  /** workbook.xml → (name, r:id) per sheet, in declared order. */
  private def parseSheetList(bytes: Array[Byte]): Seq[(String, String)] = {
    val r = reader(bytes)
    val out = Seq.newBuilder[(String, String)]
    while (r.hasNext) {
      if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT
          && r.getLocalName == "sheet") {
        var name = ""; var rid = ""
        (0 until r.getAttributeCount).foreach { i =>
          r.getAttributeLocalName(i) match {
            case "name" => name = r.getAttributeValue(i)
            case "id"   => rid = r.getAttributeValue(i) // r:id
            case _      =>
          }
        }
        out += name -> rid
      }
    }
    r.close()
    out.result()
  }

  /** workbook.xml.rels → rId → worksheet target path. */
  private def parseRels(bytes: Array[Byte]): Map[String, String] = {
    val r = reader(bytes)
    val out = Map.newBuilder[String, String]
    while (r.hasNext) {
      if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT
          && r.getLocalName == "Relationship") {
        var id = ""; var target = ""
        (0 until r.getAttributeCount).foreach { i =>
          r.getAttributeLocalName(i) match {
            case "Id"     => id = r.getAttributeValue(i)
            case "Target" => target = r.getAttributeValue(i)
            case _        =>
          }
        }
        out += id -> target
      }
    }
    r.close()
    out.result()
  }

  /** sharedStrings.xml → index-ordered strings (one <t> per <si> in the
    * subset we emit; rich-text runs would concatenate). */
  /** Shared strings: plain `<si><t>` AND rich-text runs
    * (`<si><r><rPr/><t>…` per formatting change — filings use these
    * constantly) concatenate to one value; `<rPh>` phonetic runs
    * (furigana annotations) are EXCLUDED, matching what Excel displays
    * and what pandas/openpyxl read (ECMA-376 §18.4.6). */
  private def parseSharedStrings(bytes: Array[Byte]): IndexedSeq[String] = {
    val r = reader(bytes)
    val out = IndexedSeq.newBuilder[String]
    val sb = new StringBuilder
    var inSi = false; var inT = false; var inRPh = false
    while (r.hasNext) r.next() match {
      case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
        r.getLocalName match {
          case "si" => inSi = true; sb.clear()
          case "rPh" if inSi => inRPh = true
          case "t" if inSi && !inRPh => inT = true
          case _ =>
        }
      case javax.xml.stream.XMLStreamConstants.CHARACTERS if inT =>
        sb.append(r.getText)
      case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
        r.getLocalName match {
          case "t" if inSi => inT = false
          case "rPh" => inRPh = false
          case "si" => inSi = false; out += sb.toString
          case _ =>
        }
      case _ =>
    }
    r.close()
    out.result()
  }

  /** worksheet XML → (row, col, value) per cell. Cell type attr `t`:
    * "s" = shared-string index, "inlineStr" = <is><t>, otherwise the
    * raw <v> text (numbers keep their lexical form — no float reparse,
    * so the value survives engine-to-engine comparison exactly).
    * The `r` position attributes are OPTIONAL per ECMA-376 (§18.3.1.73:
    * a row without `r` follows the previous row; a cell without `r`
    * follows the previous cell) and real streaming writers omit them —
    * positions are inferred sequentially when absent. */
  private def parseSheet(bytes: Array[Byte],
      shared: IndexedSeq[String],
      dateStyles: Set[Int] = Set.empty,
      date1904: Boolean = false)
      : (Seq[(Long, Long, String)], Seq[(Long, Long, Long, Long)]) = {
    val r = reader(bytes)
    val out = Seq.newBuilder[(Long, Long, String)]
    val merges = Seq.newBuilder[(Long, Long, Long, Long)]
    var curRow = 0L; var curCol = 0L
    var cellType = ""; var cellStyle = -1
    var inV = false; var inIsT = false
    val sb = new StringBuilder
    def emit(): Unit = if (curRow > 0 && curCol > 0 && sb.nonEmpty) {
      // a malformed or out-of-range shared-string index (corrupt
      // workbook) degrades to the raw index text instead of throwing —
      // one bad file must not kill a whole directory scan
      val v =
        if (cellType == "s")
          sb.toString.trim.toIntOption.flatMap(shared.lift).getOrElse(sb.toString)
        // date-styled NUMERIC cell: the serial means a date; an
        // unparseable serial (corrupt) degrades to the raw text
        else if ((cellType.isEmpty || cellType == "n") && dateStyles(cellStyle))
          sb.toString.trim.toDoubleOption.map(serialToIso(_, date1904)).getOrElse(sb.toString)
        // boolean cell: <v> is 0/1 on the wire but renders TRUE/FALSE
        // (ECMA-376 §18.18.11 ST_CellType b) — matching what Excel
        // shows and what to_excel/openpyxl write back
        else if (cellType == "b")
          (if (sb.toString.trim == "1") "TRUE" else "FALSE")
        // t="e" (error text like #DIV/0!) and t="str" (a formula's
        // cached string) already carry their display text in <v>
        else sb.toString
      out += ((curRow, curCol, v))
    }
    while (r.hasNext) r.next() match {
      case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
        r.getLocalName match {
          case "row" =>
            var rr = -1L
            (0 until r.getAttributeCount).foreach { i =>
              if (r.getAttributeLocalName(i) == "r")
                rr = r.getAttributeValue(i).toLongOption.getOrElse(-1L)
            }
            curRow = if (rr > 0) rr else curRow + 1
            curCol = 0L
          case "c" =>
            cellType = ""; cellStyle = -1; sb.clear()
            var cr = ""
            (0 until r.getAttributeCount).foreach { i =>
              r.getAttributeLocalName(i) match {
                case "r" => cr = r.getAttributeValue(i)
                case "t" => cellType = r.getAttributeValue(i)
                case "s" => cellStyle = r.getAttributeValue(i).toIntOption.getOrElse(-1)
                case _   =>
              }
            }
            if (cr.nonEmpty) {
              val (row, col) = splitRef(cr)
              curRow = row; curCol = col
            } else curCol += 1
          case "v" => inV = true
          case "t" if cellType == "inlineStr" => inIsT = true
          case "mergeCell" =>
            (0 until r.getAttributeCount).foreach { i =>
              if (r.getAttributeLocalName(i) == "ref") {
                // "A6:B7" — a malformed ref (corrupt workbook) is
                // skipped, same degrade-not-throw rule as cell values
                r.getAttributeValue(i).split(":", 2) match {
                  case Array(a, b) =>
                    try {
                      val (r1, c1) = splitRef(a); val (r2, c2) = splitRef(b)
                      merges += ((r1 min r2, c1 min c2, r1 max r2, c1 max c2))
                    } catch { case _: Exception => }
                  case _ =>
                }
              }
            }
          case _ =>
        }
      case javax.xml.stream.XMLStreamConstants.CHARACTERS if inV || inIsT =>
        sb.append(r.getText)
      case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
        r.getLocalName match {
          case "v" => inV = false
          case "t" if inIsT => inIsT = false
          case "c" => emit()
          case _ =>
        }
      case _ =>
    }
    r.close()
    (out.result(), merges.result())
  }

  /** "BC12" → (12, 55): column letters are base-26 with A=1. */
  private[graft] def splitRef(ref: String): (Long, Long) = {
    val letters = ref.takeWhile(_.isLetter)
    val digits = ref.drop(letters.length)
    val col = letters.foldLeft(0L)((acc, ch) => acc * 26 + (ch - 'A' + 1))
    (digits.toLong, col)
  }

  // ---- writer (fixture generator — also JDK-only) -------------------

  /** A cell for the fixture writer: `num=true` emits a raw numeric
    * <v>; `date=true` takes ISO text ("yyyy-MM-dd" or with a time) and
    * emits the 1900-system serial under a date style (s="1",
    * numFmtId=14) — the shape a real workbook stores; otherwise the
    * string goes through sharedStrings (even index) or inline (odd
    * index) to exercise both paths. */
  case class W(text: String, num: Boolean = false, date: Boolean = false)

  /** Write a minimal real workbook: [Content_Types], rels, workbook,
    * sharedStrings, one part per sheet. Fixed zip timestamps keep the
    * bytes deterministic run-to-run. `merges(i)` are sheet i's merged
    * regions as A1-style refs ("A6:A7") — the value belongs in the
    * anchor cell and covered cells stay empty, exactly what Excel
    * writes (ECMA-376 §18.3.1.55). */
  def writeWorkbook(sheets: Seq[(String, Seq[Seq[W]])],
      merges: Seq[Seq[String]] = Seq.empty): Array[Byte] = {
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val sharedList = sheets.flatMap(_._2.flatten).filter(c => !c.num && !c.date)
      .map(_.text).distinct.zipWithIndex
    val shared = sharedList.toMap
    def serialText(iso: String): String = {
      val s = isoToSerial(iso)
      if (s == math.floor(s)) s.toLong.toString else s.toString
    }
    val sheetXml = sheets.zipWithIndex.map { case ((_, rows), si) =>
      val body = rows.zipWithIndex.map { case (cells, ri) =>
        val cs = cells.zipWithIndex.collect {
          case (W(t, num, date), ci) if t.nonEmpty =>
            val ref = s"${colName(ci + 1)}${ri + 1}"
            if (date) s"""<c r="$ref" s="1"><v>${serialText(t)}</v></c>"""
            else if (num) s"""<c r="$ref"><v>${esc(t)}</v></c>"""
            else if (shared(t) % 2 == 0)
              s"""<c r="$ref" t="s"><v>${shared(t)}</v></c>"""
            else s"""<c r="$ref" t="inlineStr"><is><t>${esc(t)}</t></is></c>"""
        }.mkString
        s"""<row r="${ri + 1}">$cs</row>"""
      }.mkString
      val ms = merges.lift(si).getOrElse(Seq.empty)
      val mergeXml =
        if (ms.isEmpty) ""
        else ms.map(ref => s"""<mergeCell ref="$ref"/>""")
          .mkString(s"""<mergeCells count="${ms.size}">""", "", "</mergeCells>")
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$body</sheetData>$mergeXml</worksheet>"""
    }
    val wbSheets = sheets.zipWithIndex.map { case ((name, _), i) =>
      s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    val workbook =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>$wbSheets</sheets></workbook>"""
    val rels = sheets.indices.map { i =>
      s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>"""
    }.mkString
    val relsXml =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$rels</Relationships>"""
    val sstXml = {
      val sis = sharedList.map { case (t, _) => s"<si><t>${esc(t)}</t></si>" }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${sharedList.size}" uniqueCount="${sharedList.size}">$sis</sst>"""
    }
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/></Types>"""
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""

    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      val e = new ZipEntry(name)
      e.setTime(0L)
      zos.putNextEntry(e)
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    // style index 1 = built-in date format 14 (what W(date=true) cells
    // reference); index 0 is the default General format
    val stylesXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><fonts count="1"><font/></fonts><fills count="1"><fill/></fills><borders count="1"><border/></borders><cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/></cellXfs></styleSheet>"""
    put("[Content_Types].xml", contentTypes)
    put("_rels/.rels", rootRels)
    put("xl/workbook.xml", workbook)
    put("xl/_rels/workbook.xml.rels", relsXml)
    put("xl/styles.xml", stylesXml)
    put("xl/sharedStrings.xml", sstXml)
    sheetXml.zipWithIndex.foreach { case (xml, i) =>
      put(s"xl/worksheets/sheet${i + 1}.xml", xml)
    }
    zos.close()
    bos.toByteArray
  }

  private[graft] def colName(col: Long): String = {
    var c = col; val sb = new StringBuilder
    while (c > 0) { val r = ((c - 1) % 26).toInt; sb.insert(0, ('A' + r).toChar); c = (c - 1) / 26 }
    sb.toString
  }
}
