package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.zip.{Deflater, Inflater}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Real binary PDF page-text source — the reference reads filings with
  * fitz: per-page `get_text()` plus keyword page search
  * (mainTesting.py:217-254, 273-285). This is an actual binary reader
  * for the file shapes real filings use, JDK-only:
  *
  *   - object location via the CLASSIC xref table, an XREF STREAM
  *     (PDF 1.5+), or the HYBRID form (classic trailer + /XRefStm,
  *     Acrobat's 1.5-compatibility shape), following `/Prev` chains,
  *     with PNG predictors (the near-universal `/DecodeParms
  *     /Predictor 12` encoding of xref streams) and OBJECT STREAMS
  *     (`/ObjStm`, type-2 entries) — a file whose dictionaries are
  *     themselves compressed reads fine;
  *   - a legacy fallback scan for files with no xref at all;
  *   - nested page trees (`/Pages` under `/Pages`), `/Contents` given
  *     as a single stream or an ARRAY of streams;
  *   - a real content-stream tokenizer: literal strings with all spec
  *     escapes (octal included), HEX strings, kerned `TJ` arrays,
  *     `Tj`/`'`/`"` show ops, `Td`/`TD`/`T*`/`Tm` positioning, inline
  *     dicts and `BI..EI` inline images skipped safely;
  *   - indirect `/Length` values resolved through the xref.
  *
  *   - font `/ToUnicode` CMap decoding (PDF 32000-1 §9.10.3): `Tf`
  *     tracks the active font, page `/Resources` (inherited through
  *     the page tree, §7.7.3.4) resolve font objects, and show-string
  *     bytes of a font carrying a CMap decode through its codespace/
  *     bfchar/bfrange tables — the shape every subsetted CID font in a
  *     real filing uses. Fonts without a CMap read as Latin-1, correct
  *     for unencoded Type1/WinAnsi text.
  *
  *   - SIMPLE-FONT /Encoding decoding (§9.6.5 + Appendix D) for fonts
  *     with no /ToUnicode: WinAnsi/MacRoman/Standard base encodings
  *     plus /Differences arrays (glyph names resolved through an AGL
  *     subset and the uniXXXX/uXXXX algorithmic forms) — the shape of
  *     pre-2015 IDX filings. A named encoding that is none of the
  *     three standard tables (e.g. Identity-H with no /ToUnicode, a
  *     symbolic font's private encoding) has no recoverable text
  *     mapping; THAT FONT's text reads as U+FFFD, scoped per font so
  *     one legacy filing cannot kill a directory-wide scan.
  *
  *   - STANDARD-HANDLER DECRYPTION for the empty user password
  *     (§7.6.3) — RC4-40/RC4-n, AESV2, and AES-256 (R5/R6), the shapes most encrypted
  *     real filings use (the reference's fitz path reads these
  *     transparently). A real (non-empty) user password, or a
  *     non-standard handler, fails LOUDLY with the actual reason.
  *
  *   - page /Rotate (§7.7.3.3): positioned reads and area crops map
  *     text origins into DISPLAYED coordinates, so landscape
  *     statement pages crop where a viewer shows the table.
  *
  * Out of scope, stated: layout reconstruction beyond the text-matrix
  * origin, and certificate/public-key security handlers.
  *
  * Kerning-to-space rule, fixed and documented: inside a `TJ` array an
  * adjustment ≤ −180 thousandths of an em reads as a word break
  * (extractors conventionally threshold near half an em; the exact
  * constant only needs to be deterministic and matched by the fixture
  * encoder). Corrupt input fails LOUDLY with the object/offset in the
  * message — a quarantine pattern (m14) belongs upstream of the
  * parser, not silently inside it.
  *
  * Spark integration is the connectors' one scan, [[Sources.perFile]]:
  * the directory's top-level `.pdf` files (any case) → per-file
  * executor-side parse; the payload never shuffles, only
  * (file, page, line_no, text) rows move. A filing corpus at 100 TB
  * parallelizes per file inside the scan stage.
  */
object Pdf {

  case class Line(file: String, page: Long, line_no: Long, text: String)

  /** Read every top-level .pdf under `dir` into per-line rows. */
  def read(spark: SparkSession, dir: String,
      password: Option[String] = None): Dataset[Line] = {
    import spark.implicits._
    Sources.perFile(spark, dir, Seq("pdf")) { (name, bytes) =>
      parsePdf(bytes, password).iterator.map {
        case (pg, ln, text) => Line(name, pg, ln, text)
      }
    }
  }

  /** Reference page-keyword search (`mainTesting.py:217-254`): pages
    * whose text contains the keyword, case-insensitively — first hit
    * per file in (file, page) order. */
  def searchPages(spark: SparkSession, dir: String, keyword: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val hits = read(spark, dir)
      .filter(lower($"text").contains(keyword.toLowerCase))
      .groupBy($"file", $"page")
      .agg(count(lit(1)).as("n_hits"))
    hits.withColumn("rk", row_number().over(
        Window.partitionBy($"file").orderBy($"page")))
      .filter($"rk" === 1).drop("rk")
      .orderBy($"file")
  }

  case class PosLine(file: String, page: Long, line_no: Long,
      x: Double, y: Double, text: String)

  /** Read every top-level .pdf under `dir` into POSITIONED rows: each shown
    * string with the text-line origin (x, y) in page coordinates at
    * the moment of its show op. */
  def readPositioned(spark: SparkSession, dir: String,
      password: Option[String] = None): Dataset[PosLine] = {
    import spark.implicits._
    Sources.perFile(spark, dir, Seq("pdf")) { (name, bytes) =>
      parsePdfPositioned(bytes, password).iterator.map { case (pg, ln, x, y, text) =>
        PosLine(name, pg, ln, x, y, text)
      }
    }
  }

  /** Table-region scan — the engine-native form of the reference's
    * tabula fixed-area read (`read_pdf(area=..)`, test_uploadPDF.py:
    * 31-34): crop to the rectangle [x0,x1]x[y0,y1], then rebuild the
    * grid — rows are distinct y values top-down (dense_rank, PDF y
    * grows upward), columns are left-to-right within a row. All window
    * work is partitioned per (file, page): at corpus scale every page
    * reconstructs independently inside its scan task's shuffle group —
    * no global ordering anywhere. */
  def tableRegion(spark: SparkSession, dir: String,
      x0: Double, y0: Double, x1: Double, y1: Double): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rowW = Window.partitionBy($"file", $"page").orderBy($"y".desc)
    val colW = Window.partitionBy($"file", $"page", $"y").orderBy($"x")
    readPositioned(spark, dir)
      .filter($"x".between(x0, x1) && $"y".between(y0, y1))
      .withColumn("row_idx", dense_rank().over(rowW).cast("long"))
      .withColumn("col_idx", row_number().over(colW).cast("long"))
      .select($"file", $"page", $"row_idx", $"col_idx",
        $"x".cast("long").as("x"), $"y".cast("long").as("y"),
        $"text".as("value"))
      .orderBy($"file", $"page", $"row_idx", $"col_idx")
  }

  case class Ruling(file: String, page: Long,
      x0: Double, y0: Double, x1: Double, y1: Double)

  case class Cell(file: String, page: Long, row_idx: Long, col_idx: Long,
      value: String)

  /** Read every top-level .pdf under `dir` into RULING rows: the axis-aligned
    * line segments its content streams stroke (`m`/`l`/`re` + `S`-family
    * paint ops) or fill as thin bars (`re f`, ≤2pt across — the other
    * way real tables draw their rules), in displayed coordinates. The
    * raw material of lattice-mode table detection. */
  def readRulings(spark: SparkSession, dir: String,
      password: Option[String] = None): Dataset[Ruling] = {
    import spark.implicits._
    Sources.perFile(spark, dir, Seq("pdf")) { (name, bytes) =>
      parseRulings(bytes, password).iterator.map { case (pg, x0, y0, x1, y1) =>
        Ruling(name, pg, x0, y0, x1, y1)
      }
    }
  }

  /** LATTICE-mode table extraction — tabula's default when ruled lines
    * exist (test_uploadPDF.py:31-34 relies on it): the drawn rulings
    * define the cell grid directly, instead of inferring one from text
    * positions (the stream-mode [[tableRegion]]). Per (file, page):
    * horizontal rulings become row cuts, vertical rulings column cuts
    * (near-coincident cuts merged at tabula's 2pt tolerance), and each
    * positioned text token lands in the cell its (x, y) falls in; a
    * cell's tokens concatenate top-down, left-to-right. Pages whose
    * rulings give less than a 2×2 grid emit nothing here —
    * [[tableAuto]] routes them to the stream fallback.
    *
    * Execution shape: the grid is a PURE PER-PAGE function of that
    * page's tokens and rulings, so it is computed inside the
    * connector's existing per-file parse ([[pageCellRows]]) — the same
    * place the tokens are decoded. One binaryFile scan, ONE parse
    * (xref + decrypt + inflate) per file, and ZERO shuffle: cells
    * leave the scan stage finished. (The previous formulation built
    * the grid with per-page DataFrame aggregates — correct, but it
    * re-parsed the file once per consumer AND shuffled every token
    * corpus-wide to group them by page; at a million-document scale
    * that was a 3× crypto bill plus a token-sized exchange for work
    * that never needed to leave the task.) PdfSpec pins one parse per
    * file AND a single executed file scan.
    *
    * Output order is unspecified, like any Dataset: a global ORDER BY
    * directly over this scan would make Spark's range partitioner
    * SAMPLE the child — i.e. re-run the parse — so consumers needing
    * total order should sort after a shuffle barrier (the m29 gate
    * repartitions the finished cells, then sorts within the
    * partition). */
  def tableLattice(spark: SparkSession, dir: String,
      password: Option[String] = None): DataFrame =
    tableCells(spark, dir, password, streamFallback = false)

  /** Tabula's actual DEFAULT behavior: lattice where rulings exist,
    * stream-mode otherwise. Ruled pages produce [[tableLattice]] cells;
    * pages with no usable grid (or whose grid captured no text) fall
    * back to the whole-page text grid (rows = distinct baselines
    * top-down, columns left-to-right) — the same shape [[tableRegion]]
    * crops. The route is decided per page inside the one-parse
    * per-file flatMap (see [[tableLattice]]'s execution note): one
    * scan, one parse, zero shuffle. */
  def tableAuto(spark: SparkSession, dir: String,
      password: Option[String] = None): DataFrame =
    tableCells(spark, dir, password, streamFallback = true)

  private def tableCells(spark: SparkSession, dir: String,
      password: Option[String], streamFallback: Boolean): DataFrame = {
    import spark.implicits._
    Sources.perFile(spark, dir, Seq("pdf")) { (name, bytes) =>
      pageCellRows(bytes, password, streamFallback).iterator.map {
        case (pg, r, c, v) => Cell(name, pg, r, c, v)
      }
    }.toDF()
  }

  // ---- parser (executor-side, JDK-only) -----------------------------

  /** Kern threshold (thousandths of an em): a TJ adjustment at or
    * below −KernSpace reads as a word break. */
  private[graft] val KernSpace = 180.0

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"corrupt PDF: $msg")

  /** One resolved indirect object: its dictionary/body text plus the
    * raw (still possibly compressed) stream payload when present. */
  private[graft] final case class PObj(body: String, stream: Option[Array[Byte]])

  /** All reachable objects of the document, resolved through the xref
    * (classic table or xref stream, /Prev chains, /ObjStm members) —
    * or, for a pre-xref/hand-built file with no `startxref`, a legacy
    * whole-file scan. */
  private[graft] final class Doc(bytes: Array[Byte],
      password: Option[String] = None) {
    docParses.incrementAndGet() // spec seam: one Doc = one full parse
    val raw = new String(bytes, ISO_8859_1) // byte-preserving view
    if (!raw.startsWith("%PDF-")) fail("missing %PDF- header")

    /** objnum → xref entry. type 1: (1, byteOffset, gen).
      * type 2: (2, objStmNum, indexInStream). First definition along
      * the /Prev chain wins (newest first). */
    private val entries = scala.collection.mutable.Map[Int, (Int, Long, Long)]()
    /** /Root ref from the newest trailer that names one. */
    var rootRef: Option[Int] = None
    private val cache = scala.collection.mutable.Map[Int, Option[PObj]]()
    private var legacy: Map[Int, PObj] = Map.empty

    /** Every xref-section offset already read — guards BOTH the /Prev
      * chain and the hybrid /XRefStm hop against cycles (a crafted
      * file whose /XRefStm points back at a classic section would
      * otherwise recurse to StackOverflowError, an Error outside the
      * parser's fail() model), plus a hard section-count bomb guard.
      * Declared before the initializer below, which reads it. */
    private val seenXref = scala.collection.mutable.Set[Long]()

    /** /Encrypt ref + first /ID element from the NEWEST trailer that
      * carries them — set by checkEncrypt during the xref init, so
      * declared before it (class-body initialization order). */
    private var encryptRef: Option[Int] = None
    private var idFirst: Array[Byte] = Array.emptyByteArray

    locally {
      val sx = raw.lastIndexOf("startxref")
      if (sx < 0) legacy = legacyScan()
      else {
        val off = "\\d+".r.findFirstIn(raw.substring(sx)).map(_.toLong)
          .getOrElse(fail("startxref with no offset"))
        var next: Option[Long] = Some(off)
        while (next.isDefined) next = readXrefSection(next.get)
      }
    }

    /** Parse one xref section at `off`; returns its /Prev offset. */
    private def readXrefSection(off: Long): Option[Long] = {
      if (off < 0 || off >= raw.length) fail(s"xref offset $off out of range")
      if (!seenXref.add(off)) fail(s"xref section cycle at offset $off")
      if (seenXref.size > 64) fail("xref chain longer than 64 sections")
      val at = raw.substring(off.toInt)
      if (at.startsWith("xref")) {
        // classic table: subsections of `start count` then 20-byte rows
        var p = 4
        def skipWs(): Unit = while (p < at.length && at.charAt(p).isWhitespace) p += 1
        def readInt(): Long = {
          skipWs(); val s = p
          while (p < at.length && at.charAt(p).isDigit) p += 1
          if (s == p) fail(s"malformed classic xref at $off")
          at.substring(s, p).toLong
        }
        skipWs()
        while (p < at.length && at.charAt(p).isDigit) {
          val start = readInt(); val n = readInt(); skipWs()
          (0L until n).foreach { i =>
            val row = at.substring(p, p + 18)
            p += 20 // rows are exactly 20 bytes incl. the 2-byte EOL
            val num = (start + i).toInt
            if (row.charAt(17) == 'n' && !entries.contains(num))
              entries(num) = (1, row.substring(0, 10).toLong,
                row.substring(11, 16).toLong)
          }
          skipWs()
        }
        val trailer = at.indexOf("trailer")
        if (trailer < 0) fail(s"classic xref at $off has no trailer")
        val tdict = at.substring(trailer)
        if (rootRef.isEmpty) rootRef = ref(tdict, "/Root")
        val tdictHead = tdict.take(tdict.indexOf(">>") + 2 max 0)
        checkEncrypt(tdictHead)
        // HYBRID reference file (PDF 32000-1 §7.5.8.4): the trailer's
        // /XRefStm points at an xref STREAM carrying the entries this
        // classic table lists as free (Acrobat's 1.5-compatibility
        // form — the compressed objects are invisible to pre-1.5
        // readers). Read it as its own section; the revision chain
        // still continues through THIS trailer's /Prev.
        "/XRefStm\\s+(\\d+)".r.findFirstMatchIn(tdictHead)
          .foreach(m => readXrefSection(m.group(1).toLong))
        "/Prev\\s+(\\d+)".r.findFirstMatchIn(tdictHead).map(_.group(1).toLong)
      } else {
        // xref STREAM: `N G obj << /Type /XRef ... >> stream`
        val (body, data) = objAtOffset(off)
        if (!body.contains("/XRef")) fail(s"object at $off is not an xref stream")
        val w = "/W\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(body)
          .map(_.group(1).trim.split("\\s+").toSeq.map(_.toInt))
          .getOrElse(fail(s"xref stream at $off lacks /W"))
        if (w.size != 3) fail(s"xref stream /W must have 3 fields, got $w")
        val size = "/Size\\s+(\\d+)".r.findFirstMatchIn(body)
          .map(_.group(1).toInt).getOrElse(fail("xref stream lacks /Size"))
        val index = "/Index\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(body)
          .map(_.group(1).trim.split("\\s+").toSeq.map(_.toInt))
          .getOrElse(Seq(0, size))
        val payload = decodeStream(body,
          data.getOrElse(fail(s"xref stream at $off has no payload")))
        val rowLen = w.sum
        if (rowLen == 0 || payload.length % rowLen != 0)
          fail(s"xref stream at $off: ${payload.length} bytes not a multiple of row width $rowLen")
        def field(row: Int, f: Int): Long = {
          var o = row * rowLen + w.take(f).sum
          var v = 0L
          (0 until w(f)).foreach { _ => v = (v << 8) | (payload(o) & 0xffL); o += 1 }
          v
        }
        var row = 0
        index.grouped(2).foreach { case Seq(start, n) =>
          (0 until n).foreach { i =>
            val num = start + i
            val t = if (w(0) == 0) 1L else field(row, 0)
            val f2 = field(row, 1); val f3 = field(row, 2)
            row += 1
            if (t != 0 && !entries.contains(num))
              entries(num) = (t.toInt, f2, f3)
          }
          case _ => fail("odd /Index")
        }
        if (rootRef.isEmpty) rootRef = ref(body, "/Root")
        checkEncrypt(body)
        "/Prev\\s+(\\d+)".r.findFirstMatchIn(body).map(_.group(1).toLong)
      }
    }

    /** An /Encrypt ref in a trailer means the file needs decryption,
      * not that it is corrupt — without this capture the tokenizer
      * dies later with a misleading offset message, the worst
      * misdiagnosis a real-filing user can hit. The NEWEST trailer's
      * ref wins (same rule as /Root); the /ID first element is
      * captured alongside because the standard security handler's key
      * derivation needs it (§7.6.3.3). (`(?![A-Za-z])` guard:
      * /EncryptMetadata lives inside the encryption dict, never in a
      * trailer.) */
    private def checkEncrypt(trailer: String): Unit = {
      if (encryptRef.isEmpty)
        encryptRef = "/Encrypt\\s+(\\d+)\\s+\\d+\\s+R".r
          .findFirstMatchIn(trailer).map(_.group(1).toInt)
          .orElse {
            if ("/Encrypt(?![A-Za-z])".r.findFirstIn(trailer).isDefined)
              throw new IllegalArgumentException(
                "encrypted PDF: trailer carries a non-reference /Encrypt " +
                  "value — the standard handler requires an indirect ref")
            None
          }
      if (idFirst.isEmpty)
        "/ID\\s*\\[".r.findFirstMatchIn(trailer).foreach { m =>
          idFirst = pdfStringAt(trailer, m.end).getOrElse(Array.emptyByteArray)
        }
    }

    /** The file decryptor, built once after the xref init when the
      * newest trailer carried /Encrypt. Standard security handler:
      * RC4-40 (V1/R2), RC4-n (V2/R3), AESV2 (V4/R4), AES-256 R5/R6 —
      * opened with the Doc's password (None = the empty password, the
      * shape the reference's fitz path reads transparently,
      * mainTesting.py:273-285), tried as user then owner credentials.
      * A wrong password or an unsupported handler fails LOUDLY with
      * the real reason. */
    val decryptor: Option[Decryptor] = encryptRef.map { num =>
      val body = obj(num).getOrElse(throw new IllegalArgumentException(
        s"encrypted PDF: /Encrypt dictionary (object $num) is missing")).body
      buildDecryptor(body, idFirst, password)
    }

    /** Generation number of a type-1 xref entry (0 for compressed /
      * legacy objects — compressed objects are gen 0 by spec). */
    private def genOf(num: Int): Int = entries.get(num) match {
      case Some((1, _, g)) => g.toInt
      case _ => 0
    }

    /** Decrypt object `num`'s raw stream bytes when the file is
      * encrypted. The xref stream and the /Encrypt dict are never
      * encrypted (§7.5.8.2, §7.6.2) — neither path goes through here. */
    private def decrypted(num: Int, data: Array[Byte]): Array[Byte] =
      decryptor match {
        case Some(d) => d.decrypt(num, genOf(num), data)
        case None => data
      }

    /** Parse `N G obj ...` at a byte offset: (body-before-stream,
      * stream payload if any). The stream is sliced by /Length
      * (indirect /Length resolved through the xref); a /Length past
      * EOF is a truncated file and fails loudly. */
    private def objAtOffset(off: Long): (String, Option[Array[Byte]]) = {
      val m = "^\\s*(\\d+)\\s+(\\d+)\\s+obj".r
        .findFirstMatchIn(raw.substring(off.toInt))
        .getOrElse(fail(s"no object header at offset $off"))
      val bodyStart = off.toInt + m.end
      sliceBody(bodyStart)
    }

    private def sliceBody(bodyStart: Int): (String, Option[Array[Byte]]) = {
      val endobj = raw.indexOf("endobj", bodyStart)
      val streamKw = raw.indexOf("stream", bodyStart)
      if (streamKw >= 0 && (endobj < 0 || streamKw < endobj)) {
        val body = raw.substring(bodyStart, streamKw)
        var ds = streamKw + "stream".length
        if (ds < raw.length && raw.charAt(ds) == '\r') ds += 1
        if (ds < raw.length && raw.charAt(ds) == '\n') ds += 1
        val len = lengthOf(body).getOrElse {
          // no direct/resolvable /Length: scan to the endstream keyword
          // (compressed payloads rarely contain it; stated best-effort)
          val es = raw.indexOf("endstream", ds)
          if (es < 0) fail(s"stream at $ds has neither /Length nor endstream")
          es - ds
        }
        if (ds + len > raw.length)
          fail(s"stream at $ds declares /Length $len past end of file (truncated?)")
        (body, Some(raw.substring(ds, ds + len).getBytes(ISO_8859_1)))
      } else if (endobj >= 0) {
        (raw.substring(bodyStart, endobj), None)
      } else fail(s"object at $bodyStart has no endobj (truncated?)")
    }

    private def lengthOf(body: String): Option[Int] =
      "/Length\\s+(\\d+)(\\s+\\d+\\s+R)?".r.findFirstMatchIn(body).flatMap { m =>
        if (m.group(2) == null) Some(m.group(1).toInt)
        else obj(m.group(1).toInt).map(_.body.trim.toInt) // indirect
      }

    /** Members of object stream `num`: header pairs then bodies. */
    private def objStmMembers(num: Int): Map[Long, String] = {
      val o = obj(num).getOrElse(fail(s"object stream $num missing"))
      if (!o.body.contains("/ObjStm")) fail(s"object $num is not /ObjStm")
      val n = "/N\\s+(\\d+)".r.findFirstMatchIn(o.body)
        .map(_.group(1).toInt).getOrElse(fail(s"/ObjStm $num lacks /N"))
      val first = "/First\\s+(\\d+)".r.findFirstMatchIn(o.body)
        .map(_.group(1).toInt).getOrElse(fail(s"/ObjStm $num lacks /First"))
      // an encrypted file's /ObjStm payload is encrypted with the
      // ObjStm's OWN object key; its member objects are NOT separately
      // encrypted (§7.6.2) — decrypting here covers both
      val payload = new String(decodeStream(o.body, decrypted(num,
        o.stream.getOrElse(fail(s"/ObjStm $num has no payload")))), ISO_8859_1)
      val header = payload.take(first).trim.split("\\s+").map(_.toLong)
      if (header.length < 2 * n) fail(s"/ObjStm $num header too short")
      (0 until n).map { i =>
        val objNum = header(2 * i); val rel = header(2 * i + 1).toInt
        val end = if (i + 1 < n) first + header(2 * i + 3).toInt else payload.length
        objNum -> payload.substring(first + rel, end)
      }.toMap
    }

    private val objStmCache = scala.collection.mutable.Map[Int, Map[Long, String]]()

    /** Resolve object `num` (memoized). None for free/absent. */
    def obj(num: Int): Option[PObj] = cache.getOrElseUpdate(num, {
      if (legacy.nonEmpty) legacy.get(num)
      else entries.get(num).flatMap {
        case (1, off, _) =>
          val (b, s) = objAtOffset(off); Some(PObj(b, s))
        case (2, stm, _) =>
          objStmCache.getOrElseUpdate(stm.toInt, objStmMembers(stm.toInt))
            .get(num.toLong).map(PObj(_, None))
        case _ => None
      }
    })

    /** Decoded stream payload of object `num`: decrypted when the
      * file is encrypted (decryption precedes the filter chain,
      * §7.6.2), then inflated if Flate. */
    def streamOf(num: Int): Array[Byte] = {
      val o = obj(num).getOrElse(fail(s"referenced object $num is missing"))
      decodeStream(o.body, decrypted(num,
        o.stream.getOrElse(fail(s"object $num has no stream payload"))))
    }

    /** The document catalog: trailer /Root when the xref gave one,
      * otherwise the first object that looks like a catalog. */
    def catalog: PObj =
      rootRef.flatMap(obj).orElse {
        val all = if (legacy.nonEmpty) legacy
          else entries.keys.flatMap(k => obj(k).map(k -> _)).toMap
        all.values.find(_.body.contains("/Catalog"))
      }.getOrElse(fail("no document catalog (missing or broken /Root)"))

    /** Legacy path for files with no startxref: every `N 0 obj` found
      * by scanning. Streams are sliced per object at their own match
      * position (the old reader's behavior, kept as the repair path). */
    private def legacyScan(): Map[Int, PObj] =
      "(?s)(?<!\\d)(\\d+)\\s+0\\s+obj".r.findAllMatchIn(raw).map { m =>
        m.group(1).toInt -> { val (b, s) = sliceBody(m.end); PObj(b, s) }
      }.toMap
  }

  private def ref(dict: String, key: String): Option[Int] =
    (java.util.regex.Pattern.quote(key) + "\\s+(\\d+)\\s+\\d+\\s+R").r
      .findFirstMatchIn(dict).map(_.group(1).toInt)

  // ---- standard security handler (PDF 32000-1 §7.6.3) ----------------
  //
  // The EMPTY-USER-PASSWORD case — the commonest real-filing shape,
  // which the reference's fitz path reads transparently
  // (mainTesting.py:273-285) — opens with no password argument:
  // RC4-40 (V1/R2), RC4-n (V2/R3), AESV2 (V4/R4), AES-256 (V5 R5/R6).
  // A caller-supplied password is tried as USER then OWNER credentials
  // (fitz's authenticate order). A wrong/missing password, or any
  // other handler/method, still fails LOUDLY with the real reason. The algorithm transcriptions below are anchored in
  // PdfSpec against known-answer vectors computed with an independent
  // implementation (python hashlib + a standalone ARC4), so a
  // transcription bug cannot hide behind writer/reader symmetry.

  /** The 32-byte password pad (§7.6.3.3 Table 3.19's constant). */
  private[graft] val PwdPad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  private[graft] def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }

  /** RC4/ARCFOUR, written out (10 lines) rather than trusting a JCE
    * provider alias to exist. */
  private[graft] def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(_.toByte)
    var j = 0
    (0 until 256).foreach { i =>
      j = (j + s(i) + key(i % key.length)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
    }
    val out = new Array[Byte](data.length)
    var i = 0; j = 0
    data.indices.foreach { k =>
      i = (i + 1) & 0xff
      j = (j + s(i)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      out(k) = (data(k) ^ s((s(i) + s(j)) & 0xff)).toByte
    }
    out
  }

  private def intLE(v: Long, n: Int): Array[Byte] =
    (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray

  private[graft] def padPwd(pwd: Array[Byte]): Array[Byte] =
    (pwd.take(32) ++ PwdPad).take(32)

  /** Algorithm 2: the file encryption key from a padded user password.
    * `n` = key length in bytes; R≥3 re-hashes the first n bytes 50
    * times; R≥4 with /EncryptMetadata false appends 0xFFFFFFFF. */
  private[graft] def fileKey(paddedPwd: Array[Byte], o: Array[Byte], p: Int,
      id0: Array[Byte], r: Int, n: Int, encryptMetadata: Boolean): Array[Byte] = {
    val extra =
      if (r >= 4 && !encryptMetadata) intLE(0xffffffffL, 4)
      else Array.emptyByteArray
    var h = md5(paddedPwd, o, intLE(p.toLong & 0xffffffffL, 4), id0, extra)
    if (r >= 3) (0 until 50).foreach(_ => h = md5(h.take(n)))
    h.take(n)
  }

  /** Algorithm 3: the /O entry. The 50× re-hash here runs over the
    * FULL 16-byte digest (unlike Algorithm 2's first-n-bytes form). */
  private[graft] def ownerValue(ownerPwd: Array[Byte], userPwd: Array[Byte],
      r: Int, n: Int): Array[Byte] = {
    var h = md5(padPwd(ownerPwd))
    if (r >= 3) (0 until 50).foreach(_ => h = md5(h))
    val key = h.take(n)
    var o = rc4(key, padPwd(userPwd))
    if (r >= 3) (1 to 19).foreach(i => o = rc4(key.map(b => (b ^ i).toByte), o))
    o
  }

  /** Algorithms 4 (R2) / 5 (R≥3): the 32-byte /U entry for a file key.
    * R≥3 defines only the first 16 bytes; the tail is arbitrary
    * (zeros here) and excluded from verification. */
  private[graft] def userValue(key: Array[Byte], id0: Array[Byte], r: Int): Array[Byte] =
    if (r == 2) rc4(key, PwdPad)
    else {
      var x = rc4(key, md5(PwdPad, id0))
      (1 to 19).foreach(i => x = rc4(key.map(b => (b ^ i).toByte), x))
      x ++ new Array[Byte](16)
    }

  private def sha(alg: String)(parts: Array[Byte]*): Array[Byte] = {
    val d = java.security.MessageDigest.getInstance(alg)
    parts.foreach(d.update)
    d.digest()
  }

  /** Algorithm 2.B (PDF 32000-2 §7.6.4.3.4): the R6 iterated password
    * hash. SHA-256 of pwd‖salt‖udata seeds K; each round AES-128-CBC
    * encrypts 64 repeats of pwd‖K‖udata under K's halves, re-digests
    * with SHA-256/384/512 picked by sum(E[0..16]) mod 3, and the loop
    * runs at least 64 rounds, then until E's last byte ≤ rounds−32
    * (the pdf.js/mupdf interoperable reading of the round-number
    * clause; bytes compared UNSIGNED). R5 (the withdrawn Acrobat 9
    * scheme) is the plain seed digest with no rounds. Certified
    * against independently computed vectors in PdfSpec. */
  private[graft] def hash2B(pwd: Array[Byte], salt: Array[Byte],
      udata: Array[Byte]): Array[Byte] = {
    var k = sha("SHA-256")(pwd, salt, udata)
    var e = Array[Byte](-1)
    var rounds = 0
    while (rounds < 64 || (e.last & 0xff) > rounds - 32) {
      val block = pwd ++ k ++ udata
      val k1 = new Array[Byte](block.length * 64)
      (0 until 64).foreach(i => System.arraycopy(block, 0, k1, i * block.length, block.length))
      e = aesCipher(javax.crypto.Cipher.ENCRYPT_MODE, k.take(16),
        k.slice(16, 32)).doFinal(k1)
      val alg = (e.take(16).map(_ & 0xff).sum % 3) match {
        case 0 => "SHA-256"; case 1 => "SHA-384"; case _ => "SHA-512"
      }
      k = sha(alg)(e)
      rounds += 1
    }
    k.take(32)
  }

  /** AES-256 key unwrap for /UE and /OE (Algorithm 2.A steps e-f):
    * CBC, zero IV, no padding — the 32-byte plaintext IS the file
    * key. */
  private[graft] def unwrapKey256(intermediate: Array[Byte],
      wrapped: Array[Byte]): Array[Byte] = {
    if (wrapped.length != 32)
      fail(s"/UE//OE must be 32 bytes, got ${wrapped.length}")
    aesCipher(javax.crypto.Cipher.DECRYPT_MODE, intermediate,
      new Array[Byte](16)).doFinal(wrapped)
  }

  private[graft] def wrapKey256(intermediate: Array[Byte],
      fileKey: Array[Byte]): Array[Byte] =
    aesCipher(javax.crypto.Cipher.ENCRYPT_MODE, intermediate,
      new Array[Byte](16)).doFinal(fileKey)

  /** Algorithm 1: the per-object key — MD5 of file key ‖ objnum (3
    * bytes LE) ‖ gen (2 bytes LE) ‖ "sAlT" for AESV2, truncated to
    * min(keyLen+5, 16). */
  private[graft] def objectKey(fileKey: Array[Byte], num: Int, gen: Int,
      aes: Boolean): Array[Byte] = {
    val salt =
      if (aes) Array[Byte](0x73, 0x41, 0x6C, 0x54) else Array.emptyByteArray
    md5(fileKey, intLE(num.toLong, 3), intLE(gen.toLong, 2), salt)
      .take(math.min(fileKey.length + 5, 16))
  }

  private def aesCipher(mode: Int, key: Array[Byte], iv: Array[Byte]) = {
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    c.init(mode, new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    c
  }

  /** AESV2 stream layout (§7.6.2): 16-byte IV ‖ CBC ciphertext whose
    * plaintext carries PKCS#5 padding (NoPadding cipher + manual strip,
    * so a sloppy generator's bad pad degrades to a loud fail here, not
    * a provider BadPaddingException with no file context). */
  private[graft] def aesDecrypt(okey: Array[Byte], data: Array[Byte]): Array[Byte] = {
    if (data.length < 32 || data.length % 16 != 0)
      fail(s"AESV2 stream of ${data.length} bytes (needs 16-byte IV + padded blocks)")
    val plain = aesCipher(javax.crypto.Cipher.DECRYPT_MODE, okey, data.take(16))
      .doFinal(data.drop(16))
    val padLen = plain.last & 0xff
    if (padLen < 1 || padLen > 16) fail(s"AESV2 padding byte $padLen out of range")
    plain.dropRight(padLen)
  }

  private[graft] def aesEncrypt(okey: Array[Byte], iv: Array[Byte],
      plain: Array[Byte]): Array[Byte] = {
    val padLen = 16 - plain.length % 16
    val padded = plain ++ Array.fill(padLen)(padLen.toByte)
    iv ++ aesCipher(javax.crypto.Cipher.ENCRYPT_MODE, okey, iv).doFinal(padded)
  }

  /** A verified file key plus the stream crypt method: "rc4", "aes"
    * (AESV2), or "identity" (V4 with /StmF /Identity — strings may be
    * encrypted but streams are not, and only streams feed text
    * extraction here). */
  private[graft] final case class Decryptor(key: Array[Byte], mode: String) {
    def decrypt(num: Int, gen: Int, data: Array[Byte]): Array[Byte] = mode match {
      case "identity" => data
      case "aes" => aesDecrypt(objectKey(key, num, gen, aes = true), data)
      // AESV3 (§7.6.3.2 /V 5): the 256-bit file key encrypts every
      // object directly — no per-object MD5 derivation
      case "aes256" => aesDecrypt(key, data)
      case _ => rc4(objectKey(key, num, gen, aes = false), data)
    }
  }

  /** Parse one PDF string (hex or literal, full escape set) at the
    * first non-whitespace position at/after `from`; bytes, not text. */
  private[graft] def pdfStringAt(text: String, from: Int): Option[Array[Byte]] = {
    var i = from
    while (i < text.length && text.charAt(i).isWhitespace) i += 1
    if (i >= text.length) None
    else if (text.charAt(i) == '<') {
      val end = text.indexOf('>', i)
      if (end < 0) None
      else {
        val h0 = text.substring(i + 1, end).replaceAll("\\s", "")
        val h = if (h0.length % 2 == 1) h0 + "0" else h0
        Some(h.grouped(2).map(b => Integer.parseInt(b, 16).toByte).toArray)
      }
    } else if (text.charAt(i) == '(') {
      val out = new ByteArrayOutputStream()
      var depth = 1
      i += 1
      while (i < text.length && depth > 0) {
        val c = text.charAt(i)
        if (c == '\\' && i + 1 < text.length) {
          text.charAt(i + 1) match {
            case 'n' => out.write('\n'); i += 2
            case 'r' => out.write('\r'); i += 2
            case 't' => out.write('\t'); i += 2
            case 'b' => out.write('\b'); i += 2
            case 'f' => out.write('\f'); i += 2
            case '\n' => i += 2
            case '\r' =>
              i += 2; if (i < text.length && text.charAt(i) == '\n') i += 1
            case d if d >= '0' && d <= '7' =>
              var v = 0; var k = 0; i += 1
              while (k < 3 && i < text.length &&
                  text.charAt(i) >= '0' && text.charAt(i) <= '7') {
                v = v * 8 + (text.charAt(i) - '0'); i += 1; k += 1
              }
              out.write(v & 0xff)
            case other => out.write(other); i += 2
          }
        } else {
          if (c == '(') depth += 1
          else if (c == ')') depth -= 1
          if (depth > 0) out.write(c)
          i += 1
        }
      }
      Some(out.toByteArray)
    } else None
  }

  /** The string value of dict entry `key` (the /O and /U entries). */
  private def stringValue(body: String, key: String): Option[Array[Byte]] =
    (java.util.regex.Pattern.quote(key) + "(?![A-Za-z0-9])").r
      .findFirstMatchIn(body).flatMap(m => pdfStringAt(body, m.end))

  /** Parse an /Encrypt dict, verify the password, and return the
    * decryptor — or fail loudly with the real reason (wrong handler,
    * unsupported method, or a wrong/missing password). The supplied
    * password (empty when None) is tried as the USER password
    * (Algorithm 6 / 11) first, then as the OWNER password (Algorithm 7
    * / 12) — the same both-ways authentication fitz applies, so a
    * caller holding either credential reads the file. V≤4 passwords
    * are Latin-1 bytes per §7.6.3.3; V5 passwords are UTF-8 truncated
    * to 127 bytes per §7.6.4.3.2 (SASLprep normalization is omitted —
    * ASCII passwords, the filing norm, are unaffected). */
  private def buildDecryptor(body: String, id0: Array[Byte],
      password: Option[String] = None): Decryptor = {
    def enc(msg: String): Nothing =
      throw new IllegalArgumentException(s"encrypted PDF: $msg")
    val filter = "/Filter\\s*/([A-Za-z0-9]+)".r.findFirstMatchIn(body)
      .map(_.group(1)).getOrElse(enc("/Encrypt dict lacks /Filter"))
    if (filter != "Standard")
      enc(s"security handler /$filter is unsupported (only /Standard)")
    def intOf(key: String, dflt: => Int): Int =
      (java.util.regex.Pattern.quote(key) + "\\s+(-?\\d+)").r
        .findFirstMatchIn(body).map(_.group(1).toInt).getOrElse(dflt)
    val v = intOf("/V", 0)
    val r = intOf("/R", enc("/Encrypt dict lacks /R"))
    val p = intOf("/P", enc("/Encrypt dict lacks /P"))
    val bits = intOf("/Length", 40)
    val o = stringValue(body, "/O").getOrElse(enc("/Encrypt dict lacks /O"))
    val u = stringValue(body, "/U").getOrElse(enc("/Encrypt dict lacks /U"))
    if (o.length < 32 || u.length < 32) enc("/O and /U must be 32 bytes")
    val encMeta = !body.contains("/EncryptMetadata false")
    if (v == 5) {
      // AES-256 (§7.6.4: R6 = ISO 32000-2; R5 = the withdrawn Acrobat 9
      // scheme, no iteration rounds). The file key is not derived from
      // the password at all — it is UNWRAPPED from /UE after the
      // password validates against /U's hash+salts.
      if (r != 5 && r != 6) enc(s"/V 5 with /R $r is unsupported (R5/R6)")
      if (u.length < 48) enc("/V 5 needs a 48-byte /U (hash + salts)")
      val ue = stringValue(body, "/UE").getOrElse(enc("/V 5 lacks /UE"))
      // §7.6.4.3.2: UTF-8, truncated to 127 bytes (SASLprep omitted —
      // documented simplification, ASCII passwords unaffected)
      val pwd5: Array[Byte] = password
        .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).take(127))
        .getOrElse(Array.emptyByteArray)
      def h(pwd: Array[Byte], salt: Array[Byte],
          udata: Array[Byte]): Array[Byte] =
        if (r == 6) hash2B(pwd, salt, udata)
        else sha("SHA-256")(pwd, salt, udata) // R5: plain digest
      val vSalt = u.slice(32, 40)
      val kSalt = u.slice(40, 48)
      val none = Array.emptyByteArray
      val key =
        if (java.util.Arrays.equals(h(pwd5, vSalt, none), u.take(32)))
          // Algorithm 11: user password validates against /U
          unwrapKey256(h(pwd5, kSalt, none), ue)
        else if (o.length >= 48 &&
            java.util.Arrays.equals(h(pwd5, o.slice(32, 40), u.take(48)),
              o.take(32))) {
          // Algorithm 12: owner password validates against /O (whose
          // hash and key salts bind the full 48-byte /U)
          val oe = stringValue(body, "/OE").getOrElse(enc(
            "owner password validated but /V 5 dict lacks /OE"))
          unwrapKey256(h(pwd5, o.slice(40, 48), u.take(48)), oe)
        } else if (password.isDefined)
          enc("password-protected — the supplied password matches neither " +
            "the user nor the owner verification hash")
        else
          enc("password-protected (empty-user-password verification failed) — " +
            "a real user password is required; pass password = Some(...) " +
            "or supply the decrypted file instead")
      // /Perms is the file key's integrity check (Algorithm 13):
      // AES-ECB decrypt must surface 'adb' at bytes 9-11
      stringValue(body, "/Perms").foreach { perms =>
        if (perms.length >= 16) {
          val c = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
          c.init(javax.crypto.Cipher.DECRYPT_MODE,
            new javax.crypto.spec.SecretKeySpec(key, "AES"))
          val plain = c.doFinal(perms.take(16))
          if (!(plain(9) == 'a' && plain(10) == 'd' && plain(11) == 'b'))
            enc("/Perms does not validate against the unwrapped file key " +
              "(corrupt /UE or /Perms)")
        }
      }
      val stmF = "/StmF\\s*/([A-Za-z0-9]+)".r.findFirstMatchIn(body)
        .map(_.group(1)).getOrElse("Identity")
      if (stmF == "Identity") return Decryptor(key, "identity")
      val cfm = ("/" + java.util.regex.Pattern.quote(stmF) +
          "\\s*<<[^>]*?/CFM\\s*/([A-Za-z0-9]+)").r
        .findFirstMatchIn(body).map(_.group(1))
        .getOrElse(enc(s"crypt filter /$stmF has no /CFM"))
      if (cfm != "AESV3")
        enc(s"crypt filter method /$cfm is unsupported under /V 5 (only /AESV3)")
      return Decryptor(key, "aes256")
    }
    val mode = v match {
      case 1 | 2 => "rc4"
      case 4 =>
        // /StmF names the stream crypt filter; absent means /Identity
        // (§7.6.5) — streams unencrypted even though strings may be
        val stmF = "/StmF\\s*/([A-Za-z0-9]+)".r.findFirstMatchIn(body)
          .map(_.group(1)).getOrElse("Identity")
        if (stmF == "Identity") "identity"
        else {
          val cfm = ("/" + java.util.regex.Pattern.quote(stmF) +
              "\\s*<<[^>]*?/CFM\\s*/([A-Za-z0-9]+)").r
            .findFirstMatchIn(body).map(_.group(1))
            .getOrElse(enc(s"crypt filter /$stmF has no /CFM"))
          cfm match {
            case "AESV2" => "aes"
            case "V2" => "rc4"
            case other =>
              enc(s"crypt filter method /$other is unsupported " +
                "(only /V2 RC4 and /AESV2)")
          }
        }
      case other =>
        enc(s"/V $other is unsupported (V1/V2 RC4, V4 crypt filters, V5 AES-256)")
    }
    val n = if (v == 1) 5 else bits / 8
    if (n < 5 || n > 16) enc(s"/Length $bits bits out of the 40-128 range")
    // §7.6.3.3: V≤4 password bytes are Latin-1 (PDFDocEncoding's
    // byte-identity range — the filing norm)
    val pwd4: Array[Byte] = password
      .map(_.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      .getOrElse(Array.emptyByteArray)
    def userCheck(paddedUser: Array[Byte]): Option[Array[Byte]] = {
      val key = fileKey(paddedUser, o.take(32), p, id0, r, n, encMeta)
      val expectU = userValue(key, id0, r)
      val matches =
        if (r == 2) java.util.Arrays.equals(expectU, u.take(32))
        else expectU.take(16).sameElements(u.take(16))
      if (matches) Some(key) else None
    }
    // Algorithm 6: try the password as the USER password; Algorithm 7:
    // failing that, try it as the OWNER password — decrypt /O with the
    // Algorithm-3 owner key to RECOVER the (padded) user password, then
    // run the user check with it
    val key = userCheck(padPwd(pwd4)).orElse {
      var oh = md5(padPwd(pwd4))
      if (r >= 3) (0 until 50).foreach(_ => oh = md5(oh))
      val okey = oh.take(n)
      val recovered =
        if (r == 2) rc4(okey, o.take(32))
        else {
          var d = o.take(32)
          (19 to 0 by -1).foreach(i =>
            d = rc4(okey.map(b => (b ^ i).toByte), d))
          d
        }
      userCheck(recovered) // recovered IS the padded user password
    }.getOrElse {
      if (password.isDefined)
        enc("password-protected — the supplied password matches neither " +
          "the user nor the owner verification hash")
      else
        enc("password-protected (empty-user-password verification failed) — " +
          "a real user password is required; pass password = Some(...) " +
          "or supply the decrypted file instead")
    }
    Decryptor(key, mode)
  }

  /** The stream's filter pipeline: `/Filter` as one name or an ARRAY
    * of names applied in order (PDF 32000-1 §7.4 — `[/ASCII85Decode
    * /FlateDecode]` is the classic mail-safe wrapping). */
  private[graft] def filtersOf(dict: String): Seq[String] =
    "/Filter\\s*(\\[[^\\]]*\\]|/[A-Za-z0-9]+)".r.findFirstMatchIn(dict)
      .map(m => "/([A-Za-z0-9]+)".r.findAllMatchIn(m.group(1))
        .map(_.group(1)).toSeq)
      .getOrElse(Seq.empty)

  /** Decode a stream through its filter chain — Flate (optionally with
    * a PNG `/Predictor`), ASCIIHex, ASCII85, or none; anything else
    * (LZW, DCT, …) fails loudly with the filter name. */
  private def decodeStream(dict: String, data: Array[Byte]): Array[Byte] = {
    val decoded = filtersOf(dict).foldLeft(data) { (d, f) =>
      f match {
        case "FlateDecode" => inflate(d)
        case "ASCIIHexDecode" => asciiHexDecode(d)
        case "ASCII85Decode" => ascii85Decode(d)
        case other => fail(s"unsupported stream filter /$other")
      }
    }
    val pred = "/Predictor\\s+(\\d+)".r.findFirstMatchIn(dict)
      .map(_.group(1).toInt).getOrElse(1)
    if (pred < 2) decoded
    else {
      val cols = "/Columns\\s+(\\d+)".r.findFirstMatchIn(dict)
        .map(_.group(1).toInt).getOrElse(1)
      unpredictPng(decoded, cols)
    }
  }

  /** ASCIIHexDecode (§7.4.2): hex pairs, whitespace ignored, `>` ends
    * the data, an odd trailing digit reads as if followed by 0. */
  private[graft] def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i).toChar
      if (c == '>') done = true
      else if (!c.isWhitespace) {
        val v = Character.digit(c, 16)
        if (v < 0) fail(s"ASCIIHexDecode: invalid character '$c'")
        if (hi < 0) hi = v
        else { out.write((hi << 4) | v); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4) // odd final digit
    out.toByteArray
  }

  /** ASCII85Decode (§7.4.3): 5 chars `!`..`u` → 4 bytes base-85;
    * `z` = four zero bytes between groups; whitespace ignored; `~>`
    * ends the data; a partial final group of n chars pads with `u`
    * and emits n−1 bytes. */
  private[graft] def ascii85Decode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val grp = new Array[Int](5)
    var n = 0
    var i = 0
    var done = false
    def flush(count: Int): Unit = { // count = chars in the group
      var v = 0L
      (0 until 5).foreach(k => v = v * 85 + (if (k < count) grp(k) else 84))
      val emit = count - 1
      (0 until emit).foreach(k => out.write(((v >> (8 * (3 - k))) & 0xff).toInt))
    }
    while (i < data.length && !done) {
      val c = data(i).toChar
      if (c == '~') done = true
      else if (c == 'z') {
        if (n != 0) fail("ASCII85Decode: 'z' inside a group")
        out.write(0); out.write(0); out.write(0); out.write(0)
      } else if (!c.isWhitespace) {
        if (c < '!' || c > 'u') fail(s"ASCII85Decode: invalid character '$c'")
        grp(n) = c - '!'; n += 1
        if (n == 5) { flush(5); n = 0 }
      }
      i += 1
    }
    if (n == 1) fail("ASCII85Decode: lone trailing character")
    if (n > 1) flush(n)
    out.toByteArray
  }

  /** Reverse PNG row filters (predictors 10-15: each row = filter tag
    * byte + `cols` bytes). Colors/bpc are 1 for xref streams. */
  private[graft] def unpredictPng(data: Array[Byte], cols: Int): Array[Byte] = {
    val rowLen = cols + 1
    if (data.length % rowLen != 0)
      fail(s"predictor data ${data.length} bytes not a multiple of row ${rowLen}")
    val rows = data.length / rowLen
    val out = new Array[Byte](rows * cols)
    val prev = new Array[Byte](cols)
    (0 until rows).foreach { r =>
      val tag = data(r * rowLen) & 0xff
      val row = new Array[Byte](cols)
      (0 until cols).foreach { i =>
        val x = data(r * rowLen + 1 + i) & 0xff
        val a = if (i > 0) row(i - 1) & 0xff else 0 // left (bpp=1)
        val b = prev(i) & 0xff                       // up
        val c = if (i > 0) prev(i - 1) & 0xff else 0 // up-left
        val v = tag match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case 4 =>
            val p = a + b - c
            val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case t => fail(s"unsupported PNG filter tag $t")
        }
        row(i) = (v & 0xff).toByte
      }
      System.arraycopy(row, 0, out, r * cols, cols)
      System.arraycopy(row, 0, prev, 0, cols)
    }
    out
  }

  /** One page's inheritable geometry (§7.7.3.4): the effective
    * /Rotate (normalized to 0/90/180/270) and /MediaBox
    * (x0, y0, x1, y1; US-Letter default). */
  private[graft] final case class PageGeo(rotate: Int,
      box: (Double, Double, Double, Double))

  /** Page object numbers in tree order (nested /Pages recursed), each
    * with the nearest /Resources spec and geometry — pages inherit
    * /Resources, /Rotate and /MediaBox from ancestor /Pages nodes
    * (PDF 32000-1 §7.7.3.4 inheritable attributes), which is how real
    * generators attach shared fonts and landscape orientation. */
  private def pageObjs(doc: Doc): Seq[(Int, Option[String], PageGeo)] = {
    val pagesRef = ref(doc.catalog.body, "/Pages")
      .getOrElse(fail("catalog has no /Pages"))
    def walk(num: Int, depth: Int, inherited: Option[String],
        rot: Option[Int], box: Option[(Double, Double, Double, Double)]):
        Seq[(Int, Option[String], PageGeo)] = {
      if (depth > 64) fail("page tree deeper than 64 levels (cycle?)")
      val body = doc.obj(num).getOrElse(fail(s"page-tree object $num missing")).body
      val res = rawValue(body, "/Resources").orElse(inherited)
      val r = "/Rotate\\s+(-?\\d+)".r.findFirstMatchIn(body)
        .map(_.group(1).toInt).orElse(rot)
      val b = "/MediaBox\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(body)
        .map(_.group(1).trim.split("\\s+").toSeq.map(_.toDouble))
        .collect { case Seq(x0, y0, x1, y1) => (x0, y0, x1, y1) }
        .orElse(box)
      if (body.contains("/Kids")) {
        val kids = "(\\d+)\\s+\\d+\\s+R".r.findAllMatchIn(
          "/Kids\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(body)
            .map(_.group(1)).getOrElse("")
        ).map(_.group(1).toInt).toSeq
        kids.flatMap(walk(_, depth + 1, res, r, b))
      } else {
        val rr = r.getOrElse(0)
        if (rr % 90 != 0) fail(s"page $num /Rotate $rr is not a multiple of 90")
        Seq((num, res,
          PageGeo(((rr % 360) + 360) % 360, b.getOrElse((0.0, 0.0, 612.0, 792.0)))))
      }
    }
    walk(pagesRef, 0, None, None, None)
  }

  /** Map an unrotated-user-space origin into DISPLAYED coordinates
    * (§7.7.3.3 Table 30: /Rotate = degrees the page is rotated
    * CLOCKWISE when displayed). Displayed space keeps y-up with the
    * origin at the displayed page's bottom-left, so a tabula-style
    * area crop expressed against what a viewer shows lands on the
    * right text — on an unrotated page this is the identity, byte-for-
    * byte compatible with every existing positioned read. */
  private[graft] def displayXY(geo: PageGeo, x: Double, y: Double): (Double, Double) =
    geo.rotate match {
      case 0 => (x, y)
      case r =>
        val (x0, y0, x1, y1) = geo.box
        val (w, h) = (x1 - x0, y1 - y0)
        val (u, v) = (x - x0, y - y0)
        r match {
          case 90 => (v, w - u)
          case 180 => (w - u, h - v)
          case _ => (h - v, u) // 270
        }
    }

  /** A page's full content: /Contents as one ref or an array of refs,
    * streams decoded and concatenated in order. */
  private def pageContent(doc: Doc, pageObj: Int): String = {
    val body = doc.obj(pageObj).getOrElse(fail(s"page object $pageObj missing")).body
    val arr = "/Contents\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(body)
    val refs = arr match {
      case Some(m) =>
        "(\\d+)\\s+\\d+\\s+R".r.findAllMatchIn(m.group(1)).map(_.group(1).toInt).toSeq
      case None => ref(body, "/Contents").toSeq
    }
    refs.map(n => new String(doc.streamOf(n), ISO_8859_1)).mkString("\n")
  }

  // ---- per-font decoders ----------------------------------------------

  /** One font's byte→text decoder: a /ToUnicode CMap (CID fonts) or a
    * simple-font encoding table (base encoding + /Differences). */
  private[graft] sealed trait FontDec { def decode(raw: String): String }

  // ---- /ToUnicode CMaps (subsetted/CID font text) ---------------------

  /** A parsed /ToUnicode CMap: codespace ranges (byte-width, lo, hi)
    * plus the code → Unicode map (PDF 32000-1 §9.10.3). `decode` walks
    * a show-string's raw bytes; at each position it tries codespace
    * widths shortest-first and matches a range BYTE-BY-BYTE (each code
    * byte within the corresponding lo/hi byte, §9.7.6.2 — NOT a
    * whole-value compare, which would wrongly accept e.g. <8210>
    * against <8140>-<9FFC> even though 0x10 < 0x40). A code inside the
    * codespace with no bf mapping renders U+FFFD (the conventional
    * extractor choice); bytes outside every codespace pass through as
    * Latin-1 — which also makes the no-CMap simple-font path exact. */
  private[graft] final case class CMap(
      ranges: Seq[(Int, Long, Long)], map: Map[Long, String]) extends FontDec {
    private val widths = ranges.map(_._1).distinct.sorted
    private def byteMatch(w: Int, code: Long, lo: Long, hi: Long): Boolean = {
      var k = 0
      while (k < w) {
        val sh = 8 * (w - 1 - k)
        val b = (code >> sh) & 0xff
        if (b < ((lo >> sh) & 0xff) || b > ((hi >> sh) & 0xff)) return false
        k += 1
      }
      true
    }
    def decode(raw: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < raw.length) {
        var w = 0
        var code = 0L
        var hit = false
        val it = widths.iterator
        while (!hit && it.hasNext) {
          w = it.next()
          if (i + w <= raw.length) {
            code = 0L
            var k = 0
            while (k < w) { code = (code << 8) | (raw.charAt(i + k) & 0xff); k += 1 }
            hit = ranges.exists { case (rw, lo, hi) =>
              rw == w && byteMatch(w, code, lo, hi) }
          }
        }
        if (hit) { sb.append(map.getOrElse(code, "�")); i += w }
        else { sb.append(raw.charAt(i)); i += 1 }
      }
      sb.toString
    }
  }

  /** Parse a /ToUnicode CMap stream: codespacerange sections, bfchar
    * pairs, bfrange in both spec forms (incremented hex dst, explicit
    * dst array). Unknown operators (usecmap, cidrange, …) are ignored;
    * a bfrange wider than 64k codes fails loudly (bomb guard). When no
    * codespacerange is present, one full-width range is synthesized
    * per observed src width so decode still frames codes correctly. */
  private[graft] def parseCMap(text: String): CMap = {
    // hex strings tolerate interior whitespace (<04 00> is legal CMap
    // syntax, consistent with the content-stream hex handling)
    val tok = "<([0-9A-Fa-f\\s]*)>|\\[|\\]|[A-Za-z]+".r
      .findAllMatchIn(text).toVector
    def hexOf(m: scala.util.matching.Regex.Match): Option[String] =
      Option(m.group(1)).map(_.replaceAll("\\s", ""))
    def codeOf(h: String): Long = java.lang.Long.parseLong(h, 16)
    // dst hex = UTF-16BE units (4 hex digits each); a lone byte pair
    // (2 digits) decodes as one char — seen in sloppy generators
    def utf16(h: String): String =
      if (h.isEmpty) ""
      else if (h.length % 4 == 0)
        h.grouped(4).map(u => Integer.parseInt(u, 16).toChar).mkString
      else h.grouped(2).map(u => Integer.parseInt(u, 16).toChar).mkString
    val ranges = Seq.newBuilder[(Int, Long, Long)]
    val map = Map.newBuilder[Long, String]
    val srcWidths = scala.collection.mutable.SortedSet[Int]()
    var mode = ""
    var i = 0
    while (i < tok.length) {
      val m = tok(i)
      m.matched match {
        case "begincodespacerange" => mode = "cs"; i += 1
        case "beginbfchar" => mode = "bc"; i += 1
        case "beginbfrange" => mode = "br"; i += 1
        case s if s.startsWith("end") => mode = ""; i += 1
        case _ if mode == "cs" =>
          (hexOf(m), tok.lift(i + 1).flatMap(hexOf)) match {
            case (Some(lo), Some(hi)) if lo.nonEmpty =>
              ranges += ((lo.length / 2, codeOf(lo), codeOf(hi)))
              i += 2
            case _ => i += 1
          }
        case _ if mode == "bc" =>
          (hexOf(m), tok.lift(i + 1).flatMap(hexOf)) match {
            case (Some(src), Some(dst)) if src.nonEmpty =>
              srcWidths += src.length / 2
              map += codeOf(src) -> utf16(dst)
              i += 2
            case _ => i += 1
          }
        case _ if mode == "br" =>
          (hexOf(m), tok.lift(i + 1).flatMap(hexOf)) match {
            case (Some(lo), Some(hi)) if lo.nonEmpty =>
              val (cLo, cHi) = (codeOf(lo), codeOf(hi))
              if (cHi - cLo > 65535) fail(s"bfrange spans ${cHi - cLo + 1} codes")
              srcWidths += lo.length / 2
              tok.lift(i + 2) match {
                case Some(d) if d.matched == "[" => // explicit dst array
                  var j = i + 3
                  var k = cLo
                  while (j < tok.length && tok(j).matched != "]") {
                    hexOf(tok(j)).foreach { h =>
                      if (k <= cHi) map += k -> utf16(h)
                      k += 1
                    }
                    j += 1
                  }
                  i = j + 1
                case Some(d) if hexOf(d).isDefined => // incremented dst
                  val base = utf16(hexOf(d).get)
                  var k = cLo
                  while (k <= cHi) {
                    val inc = (k - cLo).toInt
                    val s =
                      if (base.isEmpty) ""
                      else base.dropRight(1) + (base.last + inc).toChar
                    map += k -> s
                    k += 1
                  }
                  i += 3
                case _ => i += 2
              }
            case _ => i += 1
          }
        case _ => i += 1
      }
    }
    val rs = ranges.result()
    val effective =
      if (rs.nonEmpty) rs
      else srcWidths.toSeq.map(w => (w, 0L, (1L << (8 * w)) - 1))
    CMap(effective, map.result())
  }

  // ---- simple-font encodings (/Encoding + /Differences, no /ToUnicode)

  /** A simple (single-byte) font's decoder: 256-slot code → text table
    * built from a base encoding (PDF 32000-1 Appendix D) with
    * /Differences overrides. Undefined slots hold U+FFFD (same
    * convention as an unmapped in-codespace CMap code). */
  private[graft] final case class SimpleFont(table: Array[String]) extends FontDec {
    def decode(raw: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < raw.length) { sb.append(table(raw.charAt(i) & 0xff)); i += 1 }
      sb.toString
    }
  }

  /** WinAnsiEncoding ≡ Windows code page 1252 for every defined code
    * (Appendix D.2); the JDK charset supplies the table. The six
    * cp1252 holes (0x81/8D/8F/90/9D) decode as their C1 controls —
    * undefined in the PDF table, harmless passthrough here. */
  private[graft] lazy val winAnsiBase: Array[String] = {
    val cs = java.nio.charset.Charset.forName("windows-1252")
    (0 until 256).map(b => new String(Array(b.toByte), cs)).toArray
  }

  /** MacRomanEncoding from the JDK x-MacRoman charset with the two
    * PDF-spec deltas: 0xDB is /currency (the JDK table is the post-8.5
    * Mac OS Roman with € there) and 0xCA is named /space in Appendix D
    * (the OS charset has NBSP). */
  private[graft] lazy val macRomanBase: Array[String] = {
    val cs = java.nio.charset.Charset.forName("x-MacRoman")
    val t = (0 until 256).map(b => new String(Array(b.toByte), cs)).toArray
    t(0xDB) = "¤"
    t(0xCA) = " "
    t
  }

  /** StandardEncoding (Appendix D.2): ASCII with /quoteright at 0x27
    * and /quoteleft at 0x60, plus its own high-half layout (typographic
    * quotes, ligatures, accents, Lslash/oe/germandbls …). Codes the
    * table leaves undefined decode as U+FFFD. Deltas are `code:cp` hex
    * pairs transcribed from the published table. */
  private[graft] lazy val standardBase: Array[String] = {
    val t = Array.fill[String](256)("�")
    (0x20 to 0x7e).foreach(c => t(c) = c.toChar.toString)
    val deltas =
      """27:2019 60:2018 A1:A1 A2:A2 A3:A3 A4:2044 A5:A5 A6:192 A7:A7
         A8:A4 A9:27 AA:201C AB:AB AC:2039 AD:203A AE:FB01 AF:FB02
         B1:2013 B2:2020 B3:2021 B4:B7 B6:B6 B7:2022 B8:201A B9:201E
         BA:201D BB:BB BC:2026 BD:2030 BF:BF C1:60 C2:B4 C3:2C6 C4:2DC
         C5:AF C6:2D8 C7:2D9 C8:A8 CA:2DA CB:B8 CD:2DD CE:2DB CF:2C7
         D0:2014 E1:C6 E3:AA E8:141 E9:D8 EA:152 EB:BA F1:E6 F5:131
         F8:142 F9:F8 FA:153 FB:DF"""
    deltas.split("\\s+").filter(_.nonEmpty).foreach { kv =>
      val Array(k, v) = kv.split(":")
      t(Integer.parseInt(k, 16)) = Integer.parseInt(v, 16).toChar.toString
    }
    t
  }

  private[graft] def baseEncoding(name: String): Option[Array[String]] =
    name match {
      case "WinAnsiEncoding" => Some(winAnsiBase)
      case "MacRomanEncoding" => Some(macRomanBase)
      case "StandardEncoding" => Some(standardBase)
      case _ => None
    }

  /** Adobe Glyph List subset: every glyph name the three base
    * encodings use (the names a /Differences array over a text font
    * can sensibly carry), as `name:cp` hex pairs from the published
    * AGL. Letters/digits are generated. Names outside the subset fall
    * back to the AGL algorithmic forms (uniXXXX / uXXXX[XX]); anything
    * else decodes U+FFFD — a decorative dingbat name must not kill the
    * whole filing. */
  private[graft] lazy val aglSubset: Map[String, String] = {
    val data =
      """space:20 exclam:21 quotedbl:22 numbersign:23 dollar:24
         percent:25 ampersand:26 quotesingle:27 parenleft:28
         parenright:29 asterisk:2A plus:2B comma:2C hyphen:2D period:2E
         slash:2F colon:3A semicolon:3B less:3C equal:3D greater:3E
         question:3F at:40 bracketleft:5B backslash:5C bracketright:5D
         asciicircum:5E underscore:5F grave:60 braceleft:7B bar:7C
         braceright:7D asciitilde:7E
         exclamdown:A1 cent:A2 sterling:A3 currency:A4 yen:A5
         brokenbar:A6 section:A7 dieresis:A8 copyright:A9
         ordfeminine:AA guillemotleft:AB logicalnot:AC registered:AE
         macron:AF degree:B0 plusminus:B1 twosuperior:B2
         threesuperior:B3 acute:B4 mu:B5 paragraph:B6 periodcentered:B7
         cedilla:B8 onesuperior:B9 ordmasculine:BA guillemotright:BB
         onequarter:BC onehalf:BD threequarters:BE questiondown:BF
         Agrave:C0 Aacute:C1 Acircumflex:C2 Atilde:C3 Adieresis:C4
         Aring:C5 AE:C6 Ccedilla:C7 Egrave:C8 Eacute:C9 Ecircumflex:CA
         Edieresis:CB Igrave:CC Iacute:CD Icircumflex:CE Idieresis:CF
         Eth:D0 Ntilde:D1 Ograve:D2 Oacute:D3 Ocircumflex:D4 Otilde:D5
         Odieresis:D6 multiply:D7 Oslash:D8 Ugrave:D9 Uacute:DA
         Ucircumflex:DB Udieresis:DC Yacute:DD Thorn:DE germandbls:DF
         agrave:E0 aacute:E1 acircumflex:E2 atilde:E3 adieresis:E4
         aring:E5 ae:E6 ccedilla:E7 egrave:E8 eacute:E9 ecircumflex:EA
         edieresis:EB igrave:EC iacute:ED icircumflex:EE idieresis:EF
         eth:F0 ntilde:F1 ograve:F2 oacute:F3 ocircumflex:F4 otilde:F5
         odieresis:F6 divide:F7 oslash:F8 ugrave:F9 uacute:FA
         ucircumflex:FB udieresis:FC yacute:FD thorn:FE ydieresis:FF
         dotlessi:131 Lslash:141 lslash:142 OE:152 oe:153 Scaron:160
         scaron:161 Ydieresis:178 Zcaron:17D zcaron:17E florin:192
         circumflex:2C6 caron:2C7 breve:2D8 dotaccent:2D9 ring:2DA
         ogonek:2DB tilde:2DC hungarumlaut:2DD
         Omega:3A9 pi:3C0 endash:2013 emdash:2014 quoteleft:2018
         quoteright:2019 quotesinglbase:201A quotedblleft:201C
         quotedblright:201D quotedblbase:201E dagger:2020
         daggerdbl:2021 bullet:2022 ellipsis:2026 perthousand:2030
         guilsinglleft:2039 guilsinglright:203A fraction:2044
         Euro:20AC trademark:2122 partialdiff:2202 Delta:2206
         product:220F summation:2211 minus:2212 radical:221A
         infinity:221E integral:222B approxequal:2248 notequal:2260
         lessequal:2264 greaterequal:2265 lozenge:25CA fi:FB01 fl:FB02"""
    val named = data.split("\\s+").filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split(":")
      k -> Integer.parseInt(v, 16).toChar.toString
    }
    val letters = (('A' to 'Z') ++ ('a' to 'z')).map(c => c.toString -> c.toString)
    val digits = Seq("zero", "one", "two", "three", "four", "five",
      "six", "seven", "eight", "nine").zipWithIndex
      .map { case (n, i) => n -> ('0' + i).toChar.toString }
    (named ++ letters ++ digits).toMap
  }

  /** Glyph name → text: the AGL subset, then the AGL algorithmic
    * forms (`uniXXXX[XXXX…]` as UTF-16 units, `uXXXX`–`uXXXXXX` as a
    * code point), else U+FFFD. */
  private[graft] def glyphText(name: String): String =
    aglSubset.getOrElse(name, name match {
      case s if s.startsWith("uni") && s.length >= 7 &&
          (s.length - 3) % 4 == 0 &&
          s.drop(3).forall(c => Character.digit(c, 16) >= 0) =>
        s.drop(3).grouped(4).map(u => Integer.parseInt(u, 16).toChar).mkString
      case s if s.startsWith("u") && s.length >= 5 && s.length <= 7 &&
          s.drop(1).forall(c => Character.digit(c, 16) >= 0) =>
        new String(Character.toChars(Integer.parseInt(s.drop(1), 16)))
      case _ => "�"
    })

  /** Build a simple font's decoder from its /Encoding entry (name or
    * dict), resolved: base encoding table + /Differences overrides
    * (PDF 32000-1 §9.6.5). `encSpec` is the raw /Encoding value;
    * `encDict` its dict text when it is one. A named encoding that is
    * not one of the three standard tables (an Identity CMap name, a
    * symbolic font's private encoding) has NO recoverable text mapping
    * without a /ToUnicode — THAT FONT degrades to U+FFFD per byte
    * (the unmapped-code convention), scoped to the one font: a single
    * legacy font must not kill a directory-wide scan whose other
    * files read fine. A non-standard /BaseEncoding inside a dict is
    * genuinely malformed (§9.6.5 restricts it to the three names) and
    * still fails loudly. */
  private[graft] def simpleFontDec(encSpec: String, encDict: Option[String]): SimpleFont = {
    encDict match {
      case None =>
        val n = encSpec.trim.stripPrefix("/")
        SimpleFont(baseEncoding(n).getOrElse(Array.fill[String](256)("�")))
      case Some(dict) =>
        // absent /BaseEncoding the spec falls back to the font's
        // built-in encoding; for the non-symbolic text fonts this
        // reader targets that is StandardEncoding (§9.6.5.2)
        val base = "/BaseEncoding\\s*/([A-Za-z0-9\\-]+)".r
          .findFirstMatchIn(dict).map(_.group(1)) match {
          case Some(n) => baseEncoding(n).getOrElse(fail(
            s"font /BaseEncoding /$n: not a standard simple-font encoding"))
          case None => standardBase
        }
        val t = base.clone()
        "/Differences\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(dict).foreach { m =>
          var code = -1
          "(\\d+)|/([^\\s/\\[\\]<>()]+)".r.findAllMatchIn(m.group(1)).foreach { tk =>
            if (tk.group(1) != null) code = tk.group(1).toInt
            else if (code >= 0 && code < 256) { t(code) = glyphText(tk.group(2)); code += 1 }
          }
        }
        SimpleFont(t)
    }
  }

  /** The raw value text that follows `key` in a dictionary body:
    * a balanced inline `<< … >>`, an `N g R` indirect reference, or a
    * bare token — whatever is there, uninterpreted. */
  private[graft] def rawValue(body: String, key: String): Option[String] = {
    val m = (java.util.regex.Pattern.quote(key) + "(?![A-Za-z0-9])").r
      .findFirstMatchIn(body).getOrElse(return None)
    var i = m.end
    while (i < body.length && body.charAt(i).isWhitespace) i += 1
    if (i >= body.length) None
    else if (body.startsWith("<<", i)) { // balanced inline dict
      var depth = 0
      val st = i
      while (i < body.length) {
        if (body.startsWith("<<", i)) { depth += 1; i += 2 }
        else if (body.startsWith(">>", i)) {
          depth -= 1; i += 2
          if (depth == 0) return Some(body.substring(st, i))
        } else i += 1
      }
      None
    } else
      "^(\\d+)\\s+(\\d+)\\s+R".r.findFirstIn(body.substring(i))
        .orElse("^\\S+".r.findFirstIn(body.substring(i)))
  }

  /** Resolve a raw dict value to dictionary text: inline dicts are
    * already text; indirect refs load the object body. */
  private def resolveDict(doc: Doc, spec: String): Option[String] = {
    val t = spec.trim
    if (t.startsWith("<<")) Some(t)
    else "^(\\d+)\\s+\\d+\\s+R".r.findFirstMatchIn(t)
      .flatMap(m => doc.obj(m.group(1).toInt).map(_.body))
  }

  // ---- embedded-font-program text recovery (§9.6.6.4 / OpenType) -----
  //
  // A subsetted font with NEITHER /ToUnicode NOR a standard /Encoding —
  // common in pre-2010 generator output — still carries its own
  // character tables: a TrueType program's `cmap` (FontFile2) or a
  // Type1 program's builtin /Encoding array (FontFile). The reference's
  // fitz path recovers text through exactly these tables
  // (mainTesting.py:217-254); this section is that recovery, JDK-only.

  /** Parse an embedded TrueType/OpenType program's `cmap` table:
    * (platformID, encodingID) → code→glyphId, subtable formats 0, 4,
    * and 6 (the formats subsetted text fonts actually carry). Out-of-
    * range offsets fail loudly (corrupt program); an UNSUPPORTED
    * subtable format is merely unusable (empty map), not an error.
    * Bomb guard: at most 65,536 mappings per subtable. */
  private[graft] def ttfCmaps(ttf: Array[Byte]): Map[(Int, Int), Map[Int, Int]] = {
    def u8(i: Int): Int = {
      if (i < 0 || i >= ttf.length)
        fail(s"corrupt embedded font program: offset $i out of range")
      ttf(i) & 0xff
    }
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def u32(i: Int): Long = (u16(i).toLong << 16) | u16(i + 2).toLong
    def parseSub(off: Int): Map[Int, Int] = u16(off) match {
      case 0 =>
        (0 until 256).map(c => c -> u8(off + 6 + c)).filter(_._2 != 0).toMap
      case 4 =>
        val segX2 = u16(off + 6)
        val endAt = off + 14
        val startAt = endAt + segX2 + 2 // +2: reservedPad
        val deltaAt = startAt + segX2
        val rangeAt = deltaAt + segX2
        val b = Map.newBuilder[Int, Int]
        var total = 0
        var s = 0
        while (s * 2 < segX2) {
          val end = u16(endAt + 2 * s); val start = u16(startAt + 2 * s)
          val delta = u16(deltaAt + 2 * s); val ro = u16(rangeAt + 2 * s)
          var c = start
          while (c <= end && c != 0xFFFF && total < 65536) {
            val gid =
              if (ro == 0) (c + delta) & 0xFFFF
              else {
                // idRangeOffset is relative to ITS OWN array slot
                val gi = u16(rangeAt + 2 * s + ro + 2 * (c - start))
                if (gi == 0) 0 else (gi + delta) & 0xFFFF
              }
            if (gid != 0) { b += c -> gid; total += 1 }
            c += 1
          }
          s += 1
        }
        b.result()
      case 6 =>
        val first = u16(off + 6); val cnt = u16(off + 8)
        (0 until math.min(cnt, 65536)).map(k =>
          (first + k) -> u16(off + 10 + 2 * k)).filter(_._2 != 0).toMap
      case _ => Map.empty
    }
    if (ttf.length < 12) fail("corrupt embedded font program: truncated")
    val numTables = u16(4)
    val cmapOff = (0 until numTables).map(k => 12 + 16 * k)
      .find { e =>
        u8(e + 3) >= 0 && // bounds-check via u8
          new String(Array(u8(e), u8(e + 1), u8(e + 2), u8(e + 3)).map(_.toByte),
            ISO_8859_1) == "cmap"
      }
      .map(e => u32(e + 8).toInt)
      .getOrElse(fail("embedded font program has no cmap table"))
    val n = u16(cmapOff + 2)
    (0 until n).map { k =>
      val rec = cmapOff + 4 + 8 * k
      (u16(rec), u16(rec + 2)) -> parseSub(cmapOff + u32(rec + 4).toInt)
    }.toMap
  }

  /** Text decoder from an embedded TrueType program alone. Unicode
    * comes from the program's (3,1) — else (0,x) — subtable, INVERTED
    * to glyphId→codepoint (smallest code point wins, deterministic).
    * For a SIMPLE font (1-byte codes) the show-byte reaches its glyph
    * through the symbolic (3,0) subtable (trying 0xF000+code first,
    * the MS symbol convention) or the Mac (1,0) subtable; for an
    * Identity-H CID font (`twoByteCids`) the 2-byte code IS the glyph
    * id. None when the program has no unicode subtable (or, simple
    * case, no code subtable) — truly unmappable stays unmapped. */
  private[graft] def ttfDec(ttf: Array[Byte], twoByteCids: Boolean): Option[FontDec] = {
    val subs = ttfCmaps(ttf)
    val uni = subs.get((3, 1))
      .orElse(subs.collectFirst { case ((0, _), m) if m.nonEmpty => m })
    uni.filter(_.nonEmpty).flatMap { u =>
      val gidToUni: Map[Int, Int] =
        u.toSeq.groupBy(_._2).map { case (g, cs) => g -> cs.map(_._1).min }
      def uniOf(gid: Int): String =
        if (gid == 0) "�"
        else gidToUni.get(gid)
          .map(cp => new String(Character.toChars(cp))).getOrElse("�")
      if (twoByteCids)
        Some(CMap(Seq((2, 0x0000L, 0xFFFFL)),
          gidToUni.map { case (g, cp) =>
            g.toLong -> new String(Character.toChars(cp)) }))
      else
        subs.get((3, 0)).orElse(subs.get((1, 0))).map { cg =>
          SimpleFont(Array.tabulate(256) { c =>
            uniOf(cg.getOrElse(0xF000 + c, cg.getOrElse(c, 0)))
          })
        }
    }
  }

  /** Text decoder from an embedded Type1 program's CLEARTEXT builtin
    * /Encoding: `dup <code> /<glyphname> put` entries (glyph names
    * through the same AGL resolution /Differences use), or the literal
    * `StandardEncoding` declaration. None when the cleartext holds no
    * usable encoding. */
  private[graft] def type1BuiltinDec(program: Array[Byte]): Option[FontDec] = {
    val clear = new String(program, ISO_8859_1)
    val head = clear.indexOf("eexec") match {
      case -1 => clear
      case i => clear.substring(0, i)
    }
    if (!head.contains("/Encoding")) None
    else {
      // the common Type1 idiom COPIES StandardEncoding and then
      // overrides slots (`/Encoding StandardEncoding readonly def`
      // followed by `dup N /name put` entries) — seed from the
      // standard table when the marker is present and apply the
      // overrides ON TOP; bare-marker and overrides-only programs are
      // the degenerate ends of the same path
      val std = head.contains("StandardEncoding")
      val t: Array[String] =
        if (std) standardBase.clone() else Array.fill[String](256)("�")
      var any = false
      "dup\\s+(\\d+)\\s*/([^\\s/\\[\\]<>()]+)\\s+put".r
        .findAllMatchIn(head).foreach { m =>
          val c = m.group(1).toInt
          if (c >= 0 && c < 256) { t(c) = glyphText(m.group(2)); any = true }
        }
      if (std || any) Some(SimpleFont(t)) else None
    }
  }

  /** The embedded font program behind `fontBody`, decoded to a text
    * mapping when its own tables allow one. Type0 fonts descend into
    * the (single) descendant CID font's descriptor and read 2-byte
    * codes as glyph ids (the Identity-H subset shape). */
  private def embeddedFontDec(doc: Doc, fontBody: String): Option[FontDec] = {
    val type0 = fontBody.contains("/Type0")
    val effBody: Option[String] =
      if (!type0) Some(fontBody)
      else "/DescendantFonts\\s*\\[?\\s*(\\d+)\\s+\\d+\\s+R".r
        .findFirstMatchIn(fontBody)
        .orElse(ref(fontBody, "/DescendantFonts")
          .flatMap(n => doc.obj(n).map(_.body))
          .flatMap(b => "(\\d+)\\s+\\d+\\s+R".r.findFirstMatchIn(b)))
        .flatMap(m => doc.obj(m.group(1).toInt).map(_.body))
    for {
      fb <- effBody
      dn <- ref(fb, "/FontDescriptor")
      desc <- doc.obj(dn).map(_.body)
      dec <- ref(desc, "/FontFile2")
        .flatMap(fn => ttfDec(doc.streamOf(fn), type0))
        .orElse(ref(desc, "/FontFile")
          .flatMap(fn => type1BuiltinDec(doc.streamOf(fn))))
    } yield dec
  }

  /** Text mapping for a font WITHOUT /ToUnicode, in fidelity order:
    * a standard /Encoding (name or dict, §9.6.5) wins; else the
    * EMBEDDED FONT PROGRAM's own tables (TrueType `cmap` /
    * Type1 builtin encoding — the fitz recovery path for subsetted
    * pre-2010 fonts); else the old scoped degradations — a
    * nonstandard-named encoding reads as U+FFFD per byte, a font with
    * no /Encoding at all passes through as Latin-1. */
  private def fontTextDec(doc: Doc, fontBody: String): Option[FontDec] = {
    val encRaw = rawValue(fontBody, "/Encoding")
    val resolved = encRaw.map(e => resolveDict(doc, e).getOrElse(e))
    resolved match {
      case Some(t) if t.trim.startsWith("<<") =>
        Some(simpleFontDec("", Some(t)))
      case Some(t) if baseEncoding(t.trim.stripPrefix("/")).isDefined =>
        Some(simpleFontDec(t, None))
      case other =>
        embeddedFontDec(doc, fontBody)
          .orElse(other.map(t => simpleFontDec(t, None)))
    }
  }

  /** Font-resource name → decoder for one page: a /ToUnicode CMap when
    * present (it wins — it is the authoritative text mapping), else a
    * simple-font /Encoding table (base encoding + /Differences). Fonts
    * with NEITHER get no entry and their strings pass through as
    * Latin-1, the pre-CMap behavior. Decoders are memoized per
    * document — fonts are shared across pages. */
  private def fontsOf(doc: Doc, resSpec: Option[String],
      cache: scala.collection.mutable.Map[Int, Option[FontDec]]): Map[String, FontDec] =
    (for {
      spec <- resSpec.toSeq
      res <- resolveDict(doc, spec).toSeq
      fontSpec <- rawValue(res, "/Font").toSeq
      fonts <- resolveDict(doc, fontSpec).toSeq
      m <- "/([^\\s/<>\\[\\]()]+)\\s+(\\d+)\\s+\\d+\\s+R".r.findAllMatchIn(fonts)
      cm <- cache.getOrElseUpdate(m.group(2).toInt,
        doc.obj(m.group(2).toInt).map(_.body).flatMap { b =>
          ref(b, "/ToUnicode")
            .map(tn => parseCMap(new String(doc.streamOf(tn), ISO_8859_1)): FontDec)
            .orElse(fontTextDec(doc, b))
        })
    } yield m.group(1) -> cm).toMap

  /** Resource name → resolved Form XObject for one page (or one
    * enclosing form): `/XObject` entries whose object carries
    * `/Subtype /Form`, each with its decoded content stream, its OWN
    * /Resources' fonts and nested forms when present (else the
    * caller's, the §8.10.1 inheritance), and its /Matrix (identity
    * when absent). `depth` caps nesting — a self-referencing form is
    * a bomb, not a document. Real filings carry headers, stamps, and
    * letterheads as Form XObjects; without this their text is
    * silently invisible. Resolved forms are memoized per document in
    * `fcache` keyed by (object, effective resources, depth) — a
    * letterhead shared by N pages decodes once, not N times; the
    * resources component covers the inherited-resources case, where
    * the same form object resolves differently per caller. */
  private def formsOf(doc: Doc, resSpec: Option[String],
      cache: scala.collection.mutable.Map[Int, Option[FontDec]],
      fcache: scala.collection.mutable.Map[(Int, Option[String], Int), FormX],
      depth: Int = 8): Map[String, FormX] =
    if (depth <= 0) Map.empty
    else (for {
      spec <- resSpec.toSeq
      res <- resolveDict(doc, spec).toSeq
      xoSpec <- rawValue(res, "/XObject").toSeq
      xos <- resolveDict(doc, xoSpec).toSeq
      m <- "/([^\\s/<>\\[\\]()]+)\\s+(\\d+)\\s+\\d+\\s+R".r.findAllMatchIn(xos)
      obj <- doc.obj(m.group(2).toInt).toSeq
      if obj.body.contains("/Form")
      if obj.stream.isDefined
    } yield {
      val num = m.group(2).toInt
      // the form's own /Resources when present, else the caller's
      val ownRes = rawValue(obj.body, "/Resources").orElse(resSpec)
      m.group(1) -> fcache.getOrElseUpdate((num, ownRes, depth), {
        val content = new String(doc.streamOf(num), ISO_8859_1)
        val mat = "/Matrix\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(obj.body)
          .map(_.group(1).trim.split("\\s+").toSeq.map(_.toDouble)) match {
          case Some(Seq(a, b, c, d, e, f)) => (a, b, c, d, e, f)
          case _ => (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
        }
        FormX(content, fontsOf(doc, ownRes, cache),
          formsOf(doc, ownRes, cache, fcache, depth - 1), mat)
      })
    }).toMap

  // ---- content-stream tokenizer --------------------------------------

  private[graft] sealed trait Tok
  private[graft] final case class TStr(s: String) extends Tok
  private[graft] final case class TNum(v: Double) extends Tok
  private[graft] final case class TName(n: String) extends Tok
  private[graft] final case class TArr(items: Seq[Either[String, Double]]) extends Tok
  private[graft] final case class TOp(op: String) extends Tok

  /** Tokenize a content stream: strings (literal + hex, full escape
    * set), numbers, names (so `Tf` font selection is visible),
    * TJ-shaped arrays, operators; dicts and inline images are
    * consumed and dropped. */
  private[graft] def tokenize(s: String): Iterator[Tok] = new Iterator[Tok] {
    private var i = 0
    private var nextTok: Tok = null
    private def ws(c: Char) = c == ' ' || c == '\t' || c == '\r' || c == '\n' ||
      c == '\f' || c == ' '
    private def delim(c: Char) = "()<>[]{}/%".indexOf(c) >= 0

    private def skipWs(): Unit = {
      while (i < s.length && (ws(s.charAt(i)) || s.charAt(i) == '%')) {
        if (s.charAt(i) == '%') while (i < s.length && s.charAt(i) != '\n') i += 1
        else i += 1
      }
    }
    private def literal(): String = { // at '('
      i += 1
      val sb = new StringBuilder
      var depth = 1
      while (i < s.length && depth > 0) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case '\n' => i += 2 // line continuation
            case '\r' =>
              i += 2; if (i < s.length && s.charAt(i) == '\n') i += 1
            case d if d >= '0' && d <= '7' =>
              var v = 0; var n = 0; i += 1
              while (n < 3 && i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '7') {
                v = v * 8 + (s.charAt(i) - '0'); i += 1; n += 1
              }
              sb.append((v & 0xff).toChar)
            case other => sb.append(other); i += 2
          }
        } else {
          if (c == '(') depth += 1
          else if (c == ')') depth -= 1
          if (depth > 0) sb.append(c)
          i += 1
        }
      }
      sb.toString
    }
    private def hexStr(): String = { // at '<', not '<<'
      i += 1
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '>') {
        if (!ws(s.charAt(i))) sb.append(s.charAt(i))
        i += 1
      }
      i += 1 // '>'
      val h = if (sb.length % 2 == 1) sb.toString + "0" else sb.toString
      h.grouped(2).map(b => Integer.parseInt(b, 16).toChar).mkString
    }
    private def skipDict(): Unit = { // at '<<'
      var depth = 0
      while (i < s.length) {
        if (s.startsWith("<<", i)) { depth += 1; i += 2 }
        else if (s.startsWith(">>", i)) {
          depth -= 1; i += 2; if (depth == 0) return
        }
        else if (s.charAt(i) == '(') literal()
        else i += 1
      }
    }
    private def number(): Double = {
      val st = i
      if (s.charAt(i) == '+' || s.charAt(i) == '-') i += 1
      while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '.')) i += 1
      s.substring(st, i).toDouble
    }
    private def array(): TArr = { // at '['
      i += 1
      val items = Seq.newBuilder[Either[String, Double]]
      skipWs()
      while (i < s.length && s.charAt(i) != ']') {
        val c = s.charAt(i)
        if (c == '(') items += Left(literal())
        else if (c == '<' && !s.startsWith("<<", i)) items += Left(hexStr())
        else if (c == '-' || c == '+' || c == '.' || c.isDigit) items += Right(number())
        else i += 1 // names etc. — not TJ content
        skipWs()
      }
      i += 1 // ']'
      TArr(items.result())
    }
    private def advance(): Tok = {
      skipWs()
      if (i >= s.length) return null
      val c = s.charAt(i)
      if (c == '(') TStr(literal())
      else if (s.startsWith("<<", i)) { skipDict(); advance() }
      else if (c == '<') TStr(hexStr())
      else if (c == '[') array()
      else if (c == ']') { i += 1; advance() }
      else if (c == '/') { // name token (needed for Tf font tracking)
        i += 1
        val st = i
        while (i < s.length && !ws(s.charAt(i)) && !delim(s.charAt(i))) i += 1
        TName(s.substring(st, i))
      }
      else if (c == '-' || c == '+' || c == '.' || c.isDigit) TNum(number())
      else { // operator
        val st = i
        while (i < s.length && !ws(s.charAt(i)) && !delim(s.charAt(i))) i += 1
        if (i == st) { i += 1; advance() } // stray delimiter
        else {
          val op = s.substring(st, i)
          if (op == "BI") { // inline image: skip to EI
            val ei = s.indexOf("EI", i)
            i = if (ei < 0) s.length else ei + 2
            advance()
          } else TOp(op)
        }
      }
    }
    def hasNext: Boolean = {
      if (nextTok == null) nextTok = advance()
      nextTok != null
    }
    def next(): Tok = {
      if (!hasNext) throw new NoSuchElementException
      val t = nextTok; nextTok = null; t
    }
  }

  /** Assemble a TJ array: strings decode through the active font's
    * CMap and concatenate; an adjustment ≤ −KernSpace reads as a word
    * break (see scaladoc). */
  private def assembleTJ(items: Seq[Either[String, Double]],
      dec: String => String): String = {
    val sb = new StringBuilder
    items.foreach {
      case Left(str) => sb.append(dec(str))
      case Right(kern) => if (kern <= -KernSpace) sb.append(' ')
    }
    sb.toString
  }

  /** A resolved Form XObject (§8.10): its content stream, its font
    * decoders (own /Resources, else inherited from the invoking page),
    * nested forms, and its /Matrix — text origins inside the form map
    * through the full affine (x', y') = (a·x + c·y + e, b·x + d·y + f)
    * so positioned reads (tableRegion crops) stay exact for
    * translated/scaled/rotated stamps alike. */
  private[graft] final case class FormX(content: String,
      fonts: Map[String, FontDec], forms: Map[String, FormX],
      m: (Double, Double, Double, Double, Double, Double))

  /** Walk one page's content: every shown string with the text-line
    * origin at its show op, in stream order. `Tf` selects the active
    * font; strings of a font with a /ToUnicode CMap or a simple-font
    * /Encoding decode through it, all others (and text before any Tf)
    * pass through as Latin-1. `Do` of a known Form XObject walks the
    * form's content in place — the form inherits the CURRENT active
    * font until its own `Tf` (the PDF graphics-state inheritance a
    * header stamp relies on), and its text origins map through the
    * form /Matrix. */
  private def walkContent(content: String,
      fonts: Map[String, FontDec] = Map.empty,
      forms: Map[String, FormX] = Map.empty,
      initFont: FontDec = null): Seq[(Double, Double, String)] = {
    val out = Seq.newBuilder[(Double, Double, String)]
    var cx = 0.0; var cy = 0.0; var tl = 0.0
    var fdec: FontDec = initFont // null = identity (no decoder)
    def dec(s: String): String = if (fdec == null) s else fdec.decode(s)
    val stack = scala.collection.mutable.ArrayBuffer[Tok]()
    def num(k: Int): Double = stack.lift(stack.length - k) match {
      case Some(TNum(v)) => v
      case _ => 0.0
    }
    def lastStr: Option[String] = stack.lastOption.collect { case TStr(v) => v }
    def lastArr: Option[Seq[Either[String, Double]]] =
      stack.lastOption.collect { case TArr(v) => v }
    tokenize(content).foreach {
      case TOp("BT") => cx = 0.0; cy = 0.0; tl = 0.0; stack.clear()
      case TOp("Tf") =>
        stack.lift(stack.length - 2) match {
          case Some(TName(f)) => fdec = fonts.getOrElse(f, null)
          case _ => ()
        }
        stack.clear()
      case TOp("Td") => cx += num(2); cy += num(1); stack.clear()
      case TOp("TD") =>
        tl = -num(1); cx += num(2); cy += num(1); stack.clear()
      case TOp("TL") => tl = num(1); stack.clear()
      case TOp("Tm") => cx = num(2); cy = num(1); stack.clear()
      case TOp("T*") => cy -= tl; stack.clear()
      case TOp("Tj") =>
        lastStr.foreach(t => out += ((cx, cy, dec(t)))); stack.clear()
      case TOp("'") =>
        cy -= tl; lastStr.foreach(t => out += ((cx, cy, dec(t)))); stack.clear()
      case TOp("\"") =>
        cy -= tl; lastStr.foreach(t => out += ((cx, cy, dec(t)))); stack.clear()
      case TOp("TJ") =>
        lastArr.foreach(a => out += ((cx, cy, assembleTJ(a, dec)))); stack.clear()
      case TOp("Do") =>
        stack.lastOption match {
          case Some(TName(n)) =>
            forms.get(n).foreach { fx =>
              val (a, b, c, d, e, f) = fx.m
              walkContent(fx.content, fx.fonts, fx.forms, fdec).foreach {
                case (x, y, t) => out += ((a * x + c * y + e, b * x + d * y + f, t))
              }
            }
          case _ => ()
        }
        stack.clear()
      case TOp(_) => stack.clear() // any other operator consumes operands
      case t => stack += t
    }
    out.result()
  }

  /** Parse one PDF payload to (page, line_no, text) rows. Page
    * rotation does not reorder the stream, so plain text reads are
    * rotation-invariant by construction. */
  def parsePdf(bytes: Array[Byte],
      password: Option[String] = None): Seq[(Long, Long, String)] = {
    val doc = new Doc(bytes, password)
    val cmaps = scala.collection.mutable.Map[Int, Option[FontDec]]()
    val fcache = scala.collection.mutable.Map[(Int, Option[String], Int), FormX]()
    pageObjs(doc).zipWithIndex.flatMap { case ((pageObj, res, _), pi) =>
      walkContent(pageContent(doc, pageObj), fontsOf(doc, res, cmaps),
          formsOf(doc, res, cmaps, fcache))
        .zipWithIndex.map {
          case ((_, _, text), li) => ((pi + 1).toLong, li.toLong, text)
        }
    }
  }

  /** Positioned variant: (page, line_no, x, y, text) per show op, in
    * DISPLAYED coordinates — origins on a /Rotate page map through the
    * page rotation (see displayXY), so an area crop (`tableRegion`)
    * expressed against what a viewer shows reads the right region on
    * landscape statement pages too. */
  def parsePdfPositioned(bytes: Array[Byte], password: Option[String] = None)
      : Seq[(Long, Long, Double, Double, String)] = {
    val doc = new Doc(bytes, password)
    val cmaps = scala.collection.mutable.Map[Int, Option[FontDec]]()
    val fcache = scala.collection.mutable.Map[(Int, Option[String], Int), FormX]()
    pageObjs(doc).zipWithIndex.flatMap { case ((pageObj, res, geo), pi) =>
      displayTokens(doc, pageContent(doc, pageObj), res, geo, cmaps, fcache)
        .zipWithIndex.map { case ((x, y, text), li) =>
          ((pi + 1).toLong, li.toLong, x, y, text)
        }
    }
  }

  /** Parse one PDF payload to ruling rows (page, x0, y0, x1, y1) in
    * DISPLAYED coordinates — endpoints of every axis-aligned segment a
    * content stream paints (see [[walkPaths]]), mapped through the
    * page /Rotate like positioned text, so rulings and text share one
    * coordinate space. */
  def parseRulings(bytes: Array[Byte], password: Option[String] = None)
      : Seq[(Long, Double, Double, Double, Double)] = {
    val doc = new Doc(bytes, password)
    pageObjs(doc).zipWithIndex.flatMap { case ((pageObj, _, geo), pi) =>
      displayRulings(pageContent(doc, pageObj), geo).map { case (x0, y0, x1, y1) =>
        ((pi + 1).toLong, x0, y0, x1, y1)
      }
    }
  }

  /** One page's shown strings (x, y, text) in DISPLAYED coordinates. */
  private def displayTokens(doc: Doc, content: String, res: Option[String],
      geo: PageGeo, cmaps: scala.collection.mutable.Map[Int, Option[FontDec]],
      fcache: scala.collection.mutable.Map[(Int, Option[String], Int), FormX])
      : Seq[(Double, Double, String)] =
    walkContent(content, fontsOf(doc, res, cmaps), formsOf(doc, res, cmaps, fcache))
      .map { case (x, y, text) =>
        val (dx, dy) = displayXY(geo, x, y)
        (dx, dy, text)
      }

  /** One page's painted rulings (x0, y0, x1, y1) in DISPLAYED coordinates. */
  private def displayRulings(content: String, geo: PageGeo)
      : Seq[(Double, Double, Double, Double)] =
    walkPaths(content).map { case (x0, y0, x1, y1) =>
      val (dx0, dy0) = displayXY(geo, x0, y0)
      val (dx1, dy1) = displayXY(geo, x1, y1)
      (dx0, dy0, dx1, dy1)
    }

  /** Parses started, across all entry points that construct a [[Doc]]
    * (xref walk + decryption setup) — the spec seam proving the
    * lattice/auto table readers parse each file exactly ONCE. Counts
    * are JVM-wide; local-mode specs snapshot before/after an action. */
  private[graft] val docParses = new java.util.concurrent.atomic.AtomicLong(0)

  /** tabula's ruling-merge tolerance: real generators DOUBLE-DRAW
    * rules (a stroke over a fill, or adjacent cell borders) at
    * sub-point offsets — near-coincident cuts must collapse to one,
    * or every such line splits its row/column into a sliver. Sorted
    * fold keeping a cut only when it clears the previous by > 2pt. */
  private def clusterCuts(mids: Seq[Double]): IndexedSeq[Double] = {
    val sorted = mids.distinct.sorted
    sorted.headOption.map { h =>
      sorted.tail.foldLeft(Vector(h)) { (acc, c) =>
        if (c - acc.last > 2.0) acc :+ c else acc
      }
    }.getOrElse(Vector.empty)
  }

  private def round2(v: Double): Double =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** ONE parse of one PDF payload → finished table-cell rows
    * (page, row_idx, col_idx, value). The Doc (xref resolution +
    * decryption setup) is built once; each page's content stream is
    * located, decrypted, and inflated once; the text and path walkers
    * both read the SAME decoded string; and the grid — a pure function
    * of that page's tokens and rulings — is assembled right here, so
    * nothing but finished cells ever leaves the scan task.
    *
    * Lattice rule per page: horizontal-ruling midpoints (rounded to
    * 2 decimals) cluster into row cuts, vertical into column cuts
    * (> 2pt tolerance, see [[clusterCuts]]); a page needs a 2×2 grid;
    * tokens strictly inside the outer borders land in the cell whose
    * cut intervals contain their (x, y); a cell's tokens concatenate
    * sorted by (top-down, left-to-right, text). With `streamFallback`,
    * a page whose lattice yields NO cells instead emits the whole-page
    * text grid: rows are distinct baselines top-down (dense rank),
    * columns left-to-right within a baseline — exactly the
    * [[tableRegion]] shape. */
  private[graft] def pageCellRows(bytes: Array[Byte],
      password: Option[String], streamFallback: Boolean)
      : Seq[(Long, Long, Long, String)] = {
    val doc = new Doc(bytes, password)
    val cmaps = scala.collection.mutable.Map[Int, Option[FontDec]]()
    val fcache = scala.collection.mutable.Map[(Int, Option[String], Int), FormX]()
    val eps = 0.01
    pageObjs(doc).zipWithIndex.flatMap { case ((pageObj, res, geo), pi) =>
      val content = pageContent(doc, pageObj)
      val toks = displayTokens(doc, content, res, geo, cmaps, fcache)
      val rulings = displayRulings(content, geo)
      val (horiz, vert) = rulings.partition(r => math.abs(r._4 - r._2) <= eps)
      val ycuts = clusterCuts(horiz.map(r => round2((r._2 + r._4) / 2)))
      val xcuts = clusterCuts(vert.map(r => round2((r._1 + r._3) / 2)))
      val lattice: Seq[(Long, Long, String)] =
        if (ycuts.size < 2 || xcuts.size < 2) Nil
        else toks
          // only text INSIDE the outer borders belongs to the table
          .filter(t => t._1 > xcuts.head && t._1 < xcuts.last &&
            t._2 > ycuts.head && t._2 < ycuts.last)
          // row = cuts strictly above the baseline (PDF y grows
          // upward); col = cuts strictly left of the origin — 1-based
          .groupBy(t => (ycuts.count(_ > t._2).toLong,
            xcuts.count(_ < t._1).toLong))
          .toSeq.map { case ((r, c), ts) =>
            (r, c, ts.sortBy(t => (-t._2, t._1, t._3)).map(_._3).mkString(" "))
          }
      val cells: Seq[(Long, Long, String)] =
        if (lattice.nonEmpty || !streamFallback) lattice
        else {
          val rowOf = toks.map(_._2).distinct.sorted(Ordering[Double].reverse)
            .zipWithIndex.map { case (y, i) => y -> (i + 1).toLong }.toMap
          toks.groupBy(_._2).toSeq.flatMap { case (y, ts) =>
            ts.sortBy(_._1).zipWithIndex.map { case (t, i) =>
              (rowOf(y), (i + 1).toLong, t._3)
            }
          }
        }
      cells.map { case (r, c, v) => ((pi + 1).toLong, r, c, v) }
    }
  }

  /** Walk a decoded content stream's PATH operators and return the
    * axis-aligned segments it paints — the ruled lines a lattice table
    * is drawn with (§8.5): `m`/`l`/`h` polylines and `re` rectangle
    * edges, transformed through the CTM (`cm`, with `q`/`Q` nesting),
    * emitted by the stroke paints (`S s B B* b b*`); a FILL (`f F f*`)
    * emits only thin `re` bars (≤2pt across) as their centerlines —
    * the other way real documents draw rules — never area fills. `n`
    * discards. Curves (`c v y`) are not rulings and are skipped (their
    * operands clear at the op like any other). Non-axis-aligned
    * segments (a rotating `cm`) are dropped — lattice detection only
    * consumes H/V rules, and [[tableAuto]]'s stream fallback covers
    * anything fancier. Text-block operators pass through untouched:
    * strings/names/arrays are skipped as tokens, and every operator
    * clears the operand stack, so a TJ array's kern numbers can never
    * leak into a path operand. */
  private[graft] def walkPaths(content: String)
      : Seq[(Double, Double, Double, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Double)]()
    var ctm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    val gstack = scala.collection.mutable.Stack[(Double, Double, Double, Double, Double, Double)]()
    def xf(x: Double, y: Double): (Double, Double) =
      (ctm._1 * x + ctm._3 * y + ctm._5, ctm._2 * x + ctm._4 * y + ctm._6)
    val nums = scala.collection.mutable.ArrayBuffer[Double]()
    var cur: Option[(Double, Double)] = None
    var start: Option[(Double, Double)] = None
    val stroke = scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Double)]()
    val fillThin = scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Double)]()
    val eps = 1e-6
    def seg(p: (Double, Double), q: (Double, Double)): Unit = {
      val axis = math.abs(p._1 - q._1) <= eps || math.abs(p._2 - q._2) <= eps
      val nonZero = math.abs(p._1 - q._1) > eps || math.abs(p._2 - q._2) > eps
      if (axis && nonZero) stroke += ((p._1, p._2, q._1, q._2))
    }
    def clearPath(): Unit = {
      stroke.clear(); fillThin.clear(); cur = None; start = None
    }
    var i = 0
    val n = content.length
    while (i < n) {
      val c = content.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '%') { while (i < n && content.charAt(i) != '\n') i += 1 }
      else if (c == '(') { // literal string: nesting + escapes
        var depth = 1; i += 1
        while (i < n && depth > 0) {
          val ch = content.charAt(i)
          if (ch == '\\') i += 2
          else {
            if (ch == '(') depth += 1 else if (ch == ')') depth -= 1
            i += 1
          }
        }
      }
      else if (c == '<' && i + 1 < n && content.charAt(i + 1) == '<') i += 2
      else if (c == '<') { val e = content.indexOf('>', i); i = if (e < 0) n else e + 1 }
      else if (c == '>') i += 1
      else if (c == '[' || c == ']' || c == '{' || c == '}') i += 1
      else if (c == '/') {
        i += 1
        while (i < n && !content.charAt(i).isWhitespace &&
          !"()<>[]{}/%".contains(content.charAt(i))) i += 1
      }
      else if (c == '-' || c == '+' || c == '.' || c.isDigit) {
        val st = i; i += 1
        while (i < n && (content.charAt(i).isDigit ||
          content.charAt(i) == '.' || content.charAt(i) == 'e' ||
          content.charAt(i) == '-' || content.charAt(i) == '+')) i += 1
        try nums += content.substring(st, i).toDouble
        catch { case _: NumberFormatException => () }
      }
      else { // operator token
        val st = i
        while (i < n && !content.charAt(i).isWhitespace &&
          !"()<>[]{}/%".contains(content.charAt(i))) i += 1
        content.substring(st, i) match {
          case "q" => gstack.push(ctm)
          case "Q" => if (gstack.nonEmpty) ctm = gstack.pop()
          case "cm" if nums.length >= 6 =>
            val m = nums.takeRight(6)
            ctm = (m(0) * ctm._1 + m(1) * ctm._3, m(0) * ctm._2 + m(1) * ctm._4,
              m(2) * ctm._1 + m(3) * ctm._3, m(2) * ctm._2 + m(3) * ctm._4,
              m(4) * ctm._1 + m(5) * ctm._3 + ctm._5,
              m(4) * ctm._2 + m(5) * ctm._4 + ctm._6)
          case "m" if nums.length >= 2 =>
            val p = xf(nums(nums.length - 2), nums.last)
            cur = Some(p); start = Some(p)
          case "l" if nums.length >= 2 =>
            val p = xf(nums(nums.length - 2), nums.last)
            cur.foreach(seg(_, p))
            cur = Some(p)
            if (start.isEmpty) start = Some(p)
          case "h" =>
            for (p <- cur; s0 <- start) seg(p, s0)
            cur = start
          case "re" if nums.length >= 4 =>
            val r = nums.takeRight(4)
            val (x, y, w, h) = (r(0), r(1), r(2), r(3))
            val p00 = xf(x, y); val p10 = xf(x + w, y)
            val p11 = xf(x + w, y + h); val p01 = xf(x, y + h)
            seg(p00, p10); seg(p10, p11); seg(p11, p01); seg(p01, p00)
            // a thin bar's centerline is the ruling a FILL draws
            if (math.abs(p01._2 - p00._2) <= 2.0 &&
                math.abs(p10._1 - p00._1) > 2.0) {
              val my = (p00._2 + p01._2) / 2
              fillThin += ((p00._1, my, p10._1, my))
            } else if (math.abs(p10._1 - p00._1) <= 2.0 &&
                math.abs(p01._2 - p00._2) > 2.0) {
              val mx = (p00._1 + p10._1) / 2
              fillThin += ((mx, p00._2, mx, p01._2))
            }
            cur = Some(p00); start = Some(p00)
          case "BI" =>
            // inline image (§8.9.7): raw sample bytes follow `ID` and are
            // NOT content tokens — a '(' byte in them would swallow the
            // rest of the stream via the literal-string skipper, and
            // stray bytes can fabricate m/l/re operands. Same skip the
            // text walker does: past ID, resume after the EI delimiter.
            val id = content.indexOf("ID", i)
            val ei = content.indexOf("EI", if (id < 0) i else id + 2)
            i = if (ei < 0) n else ei + 2
          case op @ ("S" | "s" | "B" | "b" | "B*" | "b*") =>
            if (op == "s" || op == "b" || op == "b*")
              for (p <- cur; s0 <- start) seg(p, s0)
            out ++= stroke
            clearPath()
          case "f" | "F" | "f*" =>
            out ++= fillThin
            clearPath()
          case "n" => clearPath()
          case _ => () // text/state ops: operands clear below
        }
        nums.clear()
      }
    }
    out.toSeq
  }

  /** Streams are untrusted input: a preset-dictionary or corrupt stream
    * makes `inflate()` return 0 with neither `finished` nor `needsInput`
    * set (infinite loop without the stall break), and a zip-bomb stream
    * could inflate without bound — cap the output so one hostile file
    * degrades to truncated text instead of OOMing an executor. */
  private val MaxInflatedBytes = 64 << 20

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    var stalled = false
    while (!inf.finished() && !inf.needsInput() && !stalled &&
        out.size < MaxInflatedBytes) {
      val n = inf.inflate(buf)
      if (n > 0) out.write(buf, 0, n) else stalled = true
    }
    inf.end()
    out.toByteArray
  }

  // ---- writers (fixture generators — also JDK-only) ------------------

  /** Write a minimal real PDF 1.4: catalog → pages → one page object and
    * one FlateDecode content stream per page, each line a `Tj`, with a
    * correct classic xref table. Deflate output is deterministic for a
    * fixed level, so fixture bytes are reproducible. */
  def writePdf(pages: Seq[Seq[String]]): Array[Byte] =
    assemblePdf(pages.map(lines =>
      "BT /F1 12 Tf 72 720 Td\n" +
        lines.map(l => s"(${esc(l)}) Tj 0 -14 Td").mkString("\n") + "\nET"))

  /** Write a PDF with explicitly POSITIONED text: each (x, y, text)
    * cell renders as its own `BT x y Td (text) Tj ET` block, so the
    * text sits at absolute page coordinates (BT resets the text
    * matrix). This is the fixture shape for the table-region scan —
    * the reference's tabula `area=[top,left,bottom,right]` crop
    * (test_uploadPDF.py:31-34) needs geometry to crop against.
    *
    * `rotates` (optional, per page, 0 when absent) writes a /Rotate
    * page whose cells are given in DISPLAYED coordinates — the writer
    * inverts the display mapping to place the raw text origins in
    * unrotated user space, so the fixture's expected cells and the
    * parser's displayed-space output coincide by construction while
    * the bytes on disk genuinely carry rotated geometry. */
  def writePdfPositioned(pages: Seq[Seq[(Int, Int, String)]],
      rotates: Seq[Int] = Seq.empty): Array[Byte] = {
    val streams = pages.zipWithIndex.map { case (cells, pi) =>
      val r = rotates.lift(pi).getOrElse(0)
      cells.map { case (x, y, t) =>
        // invert displayXY for the standard US-Letter box
        val (ux, uy) = (((r % 360) + 360) % 360) match {
          case 90 => (612.0 - y, x.toDouble)
          case 180 => (612.0 - x, 792.0 - y)
          case 270 => (y.toDouble, 792.0 - x)
          case _ => (x.toDouble, y.toDouble)
        }
        s"BT /F1 10 Tf ${fmtNum(ux)} ${fmtNum(uy)} Td (${esc(t)}) Tj ET"
      }.mkString("\n")
    }
    assemblePdf(streams, rotates)
  }

  private def fmtNum(v: Double): String =
    if (v == v.toLong.toDouble) v.toLong.toString
    else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  private def esc(s: String) =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  /** Independent MODERN encoder (PDF 1.5 shapes a real filing uses,
    * deliberately different from `writePdf` so the parser is certified
    * against bytes it did not produce):
    *   - kerned `TJ` arrays — words joined by −250 kerns (word breaks
    *     under the −180 rule), long words split mid-word by a −20 kern
    *     (NOT a break), every other string emitted HEX;
    *   - `Tm` for the first line, `TD`/`T*`/`'` for the line walk;
    *   - `/Contents` as an ARRAY of two streams per page;
    *   - a NESTED page tree (root → two intermediate /Pages nodes);
    *   - catalog + page-tree + page dicts inside an OBJECT STREAM
    *     (type-2 xref entries);
    *   - one content stream's `/Length` as an INDIRECT reference;
    *   - a cross-reference STREAM (/Type /XRef, /W [1 4 2],
    *     /Predictor 12 PNG-Up) instead of a classic table.
    * Deterministic bytes for fixed input. */
  def writePdfModern(pages: Seq[Seq[String]]): Array[Byte] = {
    val n = pages.size
    require(n >= 1, "writePdfModern needs at least one page")
    // object numbers: 1 catalog, 2 root pages, 3/4 intermediate nodes,
    // 5..4+n page dicts (all in the objstm); then per page two content
    // streams; then the indirect-length int, the objstm, the xref stream
    val pageNums = (0 until n).map(5 + _)
    val contNums = (0 until n).map(i => (5 + n + 2 * i, 6 + n + 2 * i))
    val lenObj = 5 + 3 * n
    val objStmNum = 6 + 3 * n
    val xrefNum = 7 + 3 * n
    val size = xrefNum + 1

    def tjLine(line: String, hex: Boolean): String = {
      val parts = line.split(" ", -1).toSeq.flatMap { w =>
        val pieces =
          if (w.length > 4) Seq(w.substring(0, 3), w.substring(3))
          else Seq(w)
        pieces.zipWithIndex.map { case (p, i) => (p, i > 0) } // split-kern flag
      }
      val sb = new StringBuilder("[")
      parts.zipWithIndex.foreach { case ((p, isSplit), i) =>
        if (i > 0) sb.append(if (isSplit) " -20 " else " -250 ")
        if (hex) sb.append("<").append(
          p.getBytes(ISO_8859_1).map(b => f"${b & 0xff}%02X").mkString).append(">")
        else sb.append("(").append(esc(p)).append(")")
      }
      sb.append("] TJ").toString
    }

    def contentFor(lines: Seq[String]): (String, String) = {
      // first line positioned by Tm; TD sets the leading; from there a
      // T*-walk with alternating TJ / ' shows; split into two streams
      val ops = Seq.newBuilder[String]
      ops += "BT"
      ops += "/F1 11 Tf"
      ops += "1 0 0 1 72 720 Tm"
      ops += "0 -14 TD"
      lines.zipWithIndex.foreach { case (l, i) =>
        if (i == 0) ops += tjLine(l, hex = i % 2 == 1)
        else if (i % 3 == 0) ops += s"(${esc(l)}) '"
        else { ops += "T*"; ops += tjLine(l, hex = i % 2 == 1) }
      }
      ops += "ET"
      val all = ops.result()
      val cut = (all.length + 1) / 2
      (all.take(cut).mkString("\n"), all.drop(cut).mkString("\n"))
    }

    val out = new ByteArrayOutputStream()
    def offset = out.size.toLong
    val offsets = scala.collection.mutable.Map[Int, Long]()
    def put(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    put("%PDF-1.5\n%âãÏÓ\n")

    // content streams (regular objects)
    pages.zipWithIndex.foreach { case (lines, i) =>
      val (s1, s2) = contentFor(lines)
      val (c1, c2) = contNums(i)
      val d1 = deflate(s1.getBytes(ISO_8859_1))
      offsets(c1) = offset
      // first page's first stream exercises the indirect /Length path
      val lenRef = if (i == 0) s"$lenObj 0 R" else s"${d1.length}"
      put(s"$c1 0 obj\n<< /Length $lenRef /Filter /FlateDecode >>\nstream\n")
      out.write(d1); put("\nendstream\nendobj\n")
      if (i == 0) {
        offsets(lenObj) = offset
        put(s"$lenObj 0 obj\n${d1.length}\nendobj\n")
      }
      val d2 = deflate(s2.getBytes(ISO_8859_1))
      offsets(c2) = offset
      put(s"$c2 0 obj\n<< /Length ${d2.length} /Filter /FlateDecode >>\nstream\n")
      out.write(d2); put("\nendstream\nendobj\n")
    }

    // object stream holding the catalog and the whole page tree
    val lo = pageNums.take((n + 1) / 2)
    val hi = pageNums.drop((n + 1) / 2)
    val members: Seq[(Int, String)] =
      Seq(
        1 -> "<< /Type /Catalog /Pages 2 0 R >>",
        2 -> (s"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count $n >>"),
        3 -> (s"<< /Type /Pages /Parent 2 0 R /Kids [${lo.map(p => s"$p 0 R").mkString(" ")}] /Count ${lo.size} >>"),
        4 -> (s"<< /Type /Pages /Parent 2 0 R /Kids [${hi.map(p => s"$p 0 R").mkString(" ")}] /Count ${hi.size} >>")
      ) ++ pageNums.zipWithIndex.map { case (p, i) =>
        val (c1, c2) = contNums(i)
        p -> (s"<< /Type /Page /Parent ${if (i < lo.size) 3 else 4} 0 R " +
          s"/MediaBox [0 0 612 792] /Contents [$c1 0 R $c2 0 R] >>")
      }
    val bodies = members.map(_._2)
    val rel = bodies.scanLeft(0)(_ + _.length + 1).init
    val header = members.map(_._1).zip(rel)
      .map { case (num, o) => s"$num $o" }.mkString(" ") + "\n"
    val objStmPayload = header + bodies.mkString("\n") + "\n"
    val objStmDefl = deflate(objStmPayload.getBytes(ISO_8859_1))
    offsets(objStmNum) = offset
    put(s"$objStmNum 0 obj\n<< /Type /ObjStm /N ${members.size} " +
      s"/First ${header.length} /Length ${objStmDefl.length} " +
      "/Filter /FlateDecode >>\nstream\n")
    out.write(objStmDefl); put("\nendstream\nendobj\n")

    // xref STREAM: W=[1 4 2], PNG-Up predictor (12)
    val xrefOffset = offset
    offsets(xrefNum) = xrefOffset
    def entry(t: Int, f2: Long, f3: Int): Array[Byte] = {
      val b = new Array[Byte](7)
      b(0) = t.toByte
      b(1) = ((f2 >> 24) & 0xff).toByte; b(2) = ((f2 >> 16) & 0xff).toByte
      b(3) = ((f2 >> 8) & 0xff).toByte; b(4) = (f2 & 0xff).toByte
      b(5) = ((f3 >> 8) & 0xff).toByte; b(6) = (f3 & 0xff).toByte
      b
    }
    val rows: Seq[Array[Byte]] =
      entry(0, 0, 0xffff) +: (1 until size).map { num =>
        if (num <= 4 + n) { // in the object stream
          val idx = members.indexWhere(_._1 == num)
          entry(2, objStmNum.toLong, idx)
        } else entry(1, offsets(num), 0)
      }
    val cols = 7
    val predicted = new ByteArrayOutputStream()
    var prev = new Array[Byte](cols)
    rows.foreach { r =>
      predicted.write(2) // Up filter
      val row = new Array[Byte](cols)
      (0 until cols).foreach(i => row(i) = ((r(i) - prev(i)) & 0xff).toByte)
      predicted.write(row)
      prev = r
    }
    val xrefDefl = deflate(predicted.toByteArray)
    put(s"$xrefNum 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] " +
      s"/Root 1 0 R /Filter /FlateDecode " +
      s"/DecodeParms << /Predictor 12 /Columns $cols >> " +
      s"/Length ${xrefDefl.length} >>\nstream\n")
    out.write(xrefDefl); put("\nendstream\nendobj\n")
    put(s"startxref\n$xrefOffset\n%%EOF\n")
    out.toByteArray
  }

  /** Independent CID-FONT encoder: the file shape a real filing's
    * subsetted fonts use, deliberately written against the spec (not
    * the parser) so the /ToUnicode path is certified on bytes it did
    * not produce:
    *   - `/F1` is a Type0 /Identity-H font whose content-stream bytes
    *     are 2-byte CIDs from a FIXED private coding (a–z → 0x0200+,
    *     A–Z → 0x0300+, the "fi" ligature → one code 0x0500, all other
    *     chars → 0x0400+rank) — unreadable without the CMap;
    *   - the /ToUnicode CMap exercises every section form: a
    *     codespacerange, an INCREMENTED bfrange (a–z), an ARRAY-form
    *     bfrange (A–Z), bfchar pairs, and a multi-UTF16-unit dst
    *     (the ligature);
    *   - `/F2` is a plain Type1 font with NO /ToUnicode (Latin-1
    *     passthrough) — lines alternate fonts, so `Tf` tracking is
    *     load-bearing;
    *   - `/Resources` sits ONLY on the root /Pages node (inheritance);
    *   - each page's first F1 line shows as a kerned TJ (word break
    *     under the −180 rule) when it contains a space.
    * Classic xref, FlateDecode content, deterministic bytes. */
  def writePdfCid(pages: Seq[Seq[String]]): Array[Byte] = {
    val n = pages.size
    require(n >= 1, "writePdfCid needs at least one page")
    // the F1 (CID) lines are the odd-indexed lines of every page
    val cidLines = pages.flatMap(_.zipWithIndex.collect {
      case (l, i) if i % 2 == 1 => l
    })
    val others = cidLines.flatMap(_.replace("fi", "")).toSet
      .filterNot(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))
      .toSeq.sorted
    val otherIdx = others.zipWithIndex.toMap
    def cids(text: String): Seq[Int] = {
      val out = Seq.newBuilder[Int]
      var i = 0
      while (i < text.length) {
        if (text.startsWith("fi", i)) { out += 0x0500; i += 2 }
        else {
          val c = text.charAt(i)
          out += (
            if (c >= 'a' && c <= 'z') 0x0200 + (c - 'a')
            else if (c >= 'A' && c <= 'Z') 0x0300 + (c - 'A')
            else 0x0400 + otherIdx(c))
          i += 1
        }
      }
      out.result()
    }
    def hex(codes: Seq[Int]): String =
      codes.map(c => f"$c%04X").mkString("<", "", ">")
    val cmapText = {
      val sb = new StringBuilder
      sb.append("/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n")
      sb.append("1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n")
      sb.append("1 beginbfrange\n<0200> <0219> <0061>\nendbfrange\n")
      sb.append("1 beginbfrange\n<0300> <0319> [")
      sb.append(('A' to 'Z').map(c => f"<${c.toInt}%04X>").mkString(" "))
      sb.append("]\nendbfrange\n")
      val bfchars = others.zipWithIndex.map { case (c, i) =>
        f"<${0x0400 + i}%04X> <${c.toInt}%04X>"
      } :+ "<0500> <00660069>" // the fi ligature, two UTF-16 units
      sb.append(s"${bfchars.size} beginbfchar\n")
      sb.append(bfchars.mkString("\n"))
      sb.append("\nendbfchar\nendcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n")
      sb.toString
    }
    def contentFor(lines: Seq[String]): String = {
      val ops = Seq.newBuilder[String]
      ops += "BT"
      ops += "72 720 Td"
      var firstCid = true
      lines.zipWithIndex.foreach { case (l, i) =>
        if (i % 2 == 1) {
          ops += "/F1 11 Tf"
          val sp = l.indexOf(' ')
          if (firstCid && sp > 0) {
            ops += s"[${hex(cids(l.substring(0, sp)))} -250 ${hex(cids(l.substring(sp + 1)))}] TJ"
            firstCid = false
          } else ops += s"${hex(cids(l))} Tj"
        } else {
          ops += "/F2 11 Tf"
          ops += s"(${esc(l)}) Tj"
        }
        ops += "0 -14 Td"
      }
      ops += "ET"
      ops.result().mkString("\n")
    }
    // objects: 1 catalog, 2 root pages (carrying /Resources), pages,
    // contents, F1, CMap stream, F2
    val pageNums = (0 until n).map(3 + _)
    val contNums = (0 until n).map(3 + n + _)
    val f1Num = 3 + 2 * n; val cmapNum = 4 + 2 * n; val f2Num = 5 + 2 * n
    val pdf = new ClassicPdf
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, s"<< /Type /Pages /Kids [${pageNums.map(p => s"$p 0 R").mkString(" ")}] " +
      s"/Count $n /Resources << /Font << /F1 $f1Num 0 R /F2 $f2Num 0 R >> >> >>")
    pageNums.zip(contNums).foreach { case (p, c) =>
      pdf.obj(p, s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents $c 0 R >>")
    }
    pages.zip(contNums).foreach { case (lines, c) =>
      pdf.flate(c, contentFor(lines).getBytes(ISO_8859_1))
    }
    pdf.obj(f1Num, "<< /Type /Font /Subtype /Type0 /BaseFont /GRAFT+Subset " +
      s"/Encoding /Identity-H /ToUnicode $cmapNum 0 R >>")
    pdf.flate(cmapNum, cmapText.getBytes(ISO_8859_1))
    pdf.obj(f2Num, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    pdf.finish()
  }

  /** Independent SIMPLE-FONT encoder: pre-2015 IDX filings routinely
    * carry WinAnsi/MacRoman/Standard base encodings plus /Differences
    * arrays and NO /ToUnicode (the reference's E2 path consumes such
    * files via fitz, mainTesting.py:273-285). Written against PDF
    * 32000-1 §9.6.5 + Appendix D, not against the parser:
    *   - `/F1`: /Encoding is an INDIRECT dict — /BaseEncoding
    *     /MacRomanEncoding with /Differences `[219 /Euro 245 /fi
    *     /uni2014 /bullet]` (219 overrides the base table's /currency;
    *     /uni2014 exercises the AGL algorithmic name form);
    *   - `/F2`: /Encoding is the direct NAME /WinAnsiEncoding;
    *   - `/F3`: /Encoding is an INLINE dict with /Differences only
    *     (no /BaseEncoding → StandardEncoding fallback), remapping
    *     codes 65/66 — the bytes 'A'/'B' — to /agrave//eacute, so
    *     Differences precedence over the base table is load-bearing;
    *   - lines cycle F1→F2→F3; every show string is HEX.
    * The encoder pairs each glyph NAME with its expected character by
    * its own transcription of the published tables and inverts them;
    * text that a font cannot encode is a fixture-author error
    * (require). Classic xref, uncompressed streams, deterministic. */
  def writePdfDifferences(pages: Seq[Seq[String]]): Array[Byte] = {
    val n = pages.size
    require(n >= 1, "writePdfDifferences needs at least one page")
    def inv(base: Array[String], diffs: Seq[(Int, Char)]): Map[Char, Int] = {
      val m = scala.collection.mutable.Map[Char, Int]()
      base.zipWithIndex.foreach { case (s, i) =>
        if (s != null && s.length == 1 && s != "�" && !m.contains(s.charAt(0)))
          m(s.charAt(0)) = i
      }
      diffs.foreach { case (code, c) => m(c) = code } // Differences win
      m.toMap
    }
    // the encoder's own name↔char transcription of the spec tables
    val f1Diffs = Seq(219 -> '€', 245 -> 'ﬁ', 246 -> '—', 247 -> '•')
    val f3Diffs = Seq(65 -> 'à', 66 -> 'é')
    val invs = Array(
      inv(macRomanBase, f1Diffs),
      inv(winAnsiBase, Seq.empty),
      inv(standardBase, f3Diffs))
    def hexShow(text: String, font: Int): String =
      text.map { c =>
        val b = invs(font).getOrElse(c,
          sys.error(s"fixture char U+${c.toInt.toHexString} not encodable in F${font + 1}"))
        f"$b%02X"
      }.mkString("<", "", ">")
    def contentFor(lines: Seq[String]): String = {
      val ops = Seq.newBuilder[String]
      ops += "BT"
      ops += "72 720 Td"
      lines.zipWithIndex.foreach { case (l, i) =>
        val f = i % 3
        ops += s"/F${f + 1} 11 Tf"
        ops += s"${hexShow(l, f)} Tj"
        ops += "0 -14 Td"
      }
      ops += "ET"
      ops.result().mkString("\n")
    }
    // objects: 1 catalog, 2 pages root, pages, contents, F1, F1's
    // encoding dict, F2, F3 — /Resources sit on EACH page dict
    val pageNums = (0 until n).map(3 + _)
    val contNums = (0 until n).map(3 + n + _)
    val f1Num = 3 + 2 * n; val enc1Num = 4 + 2 * n
    val f2Num = 5 + 2 * n; val f3Num = 6 + 2 * n
    val pdf = new ClassicPdf
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, s"<< /Type /Pages /Kids [${pageNums.map(p => s"$p 0 R").mkString(" ")}] /Count $n >>")
    pageNums.zip(contNums).foreach { case (p, c) =>
      pdf.obj(p, s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents $c 0 R " +
        s"/Resources << /Font << /F1 $f1Num 0 R /F2 $f2Num 0 R /F3 $f3Num 0 R >> >> >>")
    }
    pages.zip(contNums).foreach { case (lines, c) =>
      pdf.stream(c, contentFor(lines).getBytes(ISO_8859_1))(len => s"<< /Length $len >>")
    }
    pdf.obj(f1Num, "<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman " +
      s"/Encoding $enc1Num 0 R >>")
    pdf.obj(enc1Num, "<< /Type /Encoding /BaseEncoding /MacRomanEncoding " +
      "/Differences [ 219 /Euro 245 /fi /uni2014 /bullet ] >>")
    pdf.obj(f2Num, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
      "/Encoding /WinAnsiEncoding >>")
    pdf.obj(f3Num, "<< /Type /Font /Subtype /Type1 /BaseFont /Courier " +
      "/Encoding << /Differences [ 65 /agrave /eacute ] >> >>")
    pdf.finish()
  }

  /** Independent FORM-XOBJECT encoder (§8.10): every page stamps a
    * letterhead by invoking `/Hdr Do` — a Form XObject with its OWN
    * /Resources (font /F2) and a TRANSLATING /Matrix — whose content
    * in turn invokes a NESTED `/Stamp Do` with a SCALING matrix and
    * NO resources and NO Tf of its own, so the stamp inherits both
    * the header's resources and its ACTIVE font (the §8.10.1
    * graphics-state inheritance). Body text is ordinary page content.
    * Real filings carry headers/stamps exactly this way; a parser
    * without Do support silently drops them. Classic xref,
    * uncompressed streams, deterministic bytes. */
  def writePdfForm(pages: Seq[Seq[String]], header: String,
      stamp: String): Array[Byte] = {
    val n = pages.size
    require(n >= 1, "writePdfForm needs at least one page")
    val pageNums = (0 until n).map(3 + _)
    val contNums = (0 until n).map(3 + n + _)
    val hdrNum = 3 + 2 * n; val stampNum = 4 + 2 * n
    val f1Num = 5 + 2 * n; val f2Num = 6 + 2 * n
    val pdf = new ClassicPdf
    def streamObj(num: Int, dict: String, data: String): Unit =
      pdf.stream(num, data.getBytes(ISO_8859_1))(len => s"<< $dict /Length $len >>")
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, s"<< /Type /Pages /Kids [${pageNums.map(p => s"$p 0 R").mkString(" ")}] /Count $n >>")
    pageNums.zip(contNums).foreach { case (p, c) =>
      pdf.obj(p, s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents $c 0 R " +
        s"/Resources << /Font << /F1 $f1Num 0 R >> /XObject << /Hdr $hdrNum 0 R >> >> >>")
    }
    pages.zip(contNums).foreach { case (lines, c) =>
      val ops = Seq.newBuilder[String]
      ops += "/Hdr Do"
      ops += "BT"
      ops += "/F1 11 Tf"
      ops += "72 700 Td"
      lines.foreach { l => ops += s"(${esc(l)}) Tj"; ops += "0 -14 Td" }
      ops += "ET"
      streamObj(c, "", ops.result().mkString("\n"))
    }
    // header/stamp text rides font /F2 = WinAnsiEncoding, written as
    // cp1252 BYTES — a parser that drops the form, or decodes it
    // without the inherited font, garbles or loses it
    def win(s: String) = new String(s.getBytes("windows-1252"), ISO_8859_1)
    // the header form: own font resource, translate-only matrix; it
    // sets /F2 then invokes the stamp AFTER its own show, so the
    // stamp's missing Tf must inherit F2 through the Do
    streamObj(hdrNum,
      s"/Type /XObject /Subtype /Form /BBox [0 0 612 100] " +
        s"/Matrix [1 0 0 1 0 650] " +
        s"/Resources << /Font << /F2 $f2Num 0 R >> /XObject << /Stamp $stampNum 0 R >> >>",
      s"BT /F2 9 Tf 10 10 Td (${esc(win(header))}) Tj ET\n/Stamp Do")
    // the stamp: no /Resources, no Tf, SCALING matrix — inherits the
    // header's active font and maps its origin through the affine
    streamObj(stampNum,
      "/Type /XObject /Subtype /Form /BBox [0 0 100 20] /Matrix [2 0 0 2 100 30]",
      s"BT 5 5 Td (${esc(win(stamp))}) Tj ET")
    pdf.obj(f1Num, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    pdf.obj(f2Num, "<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman " +
      "/Encoding /WinAnsiEncoding >>")
    pdf.finish()
  }

  /** Independent ENCRYPTED-PDF encoder (§7.6.3 standard security
    * handler, EMPTY user password — the commonest encrypted-filing
    * shape): Flate-compressed content streams encrypted per object,
    * /O derived from a real owner password ("graft-owner"), /ID in
    * the trailer, classic xref. `method`: "rc4-40" (V1/R2), "rc4-128"
    * (V2/R3 /Length 128), or "aesv2" (V4/R4 /CF crypt filters).
    * Deterministic bytes — the AES IVs derive from the object number.
    * The underlying algorithm transcriptions are certified against
    * independently computed known-answer vectors in PdfSpec, so the
    * writer/reader pair cannot hide a symmetric derivation bug. */
  def writePdfEncrypted(pages: Seq[Seq[String]], method: String,
      userPassword: String = ""): Array[Byte] = {
    val nPages = pages.size
    require(nPages >= 1, "writePdfEncrypted needs at least one page")
    val userPwd = userPassword.getBytes(ISO_8859_1)
    val (v, r, bits, cfExtra) = method match {
      case "rc4-40" => (1, 2, 40, "")
      case "rc4-128" => (2, 3, 128, "")
      case "aesv2" => (4, 4, 128,
        " /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >>" +
          " /StmF /StdCF /StrF /StdCF")
      case "aesv3" => (5, 6, 256,
        " /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >>" +
          " /StmF /StdCF /StrF /StdCF")
      case other => sys.error(s"writePdfEncrypted: unknown method '$other'")
    }
    val p = -3904 // a realistic permissions mask (print/modify denied)
    val id0 = md5(s"graft-fixture-$method".getBytes(ISO_8859_1))
    val ownerPwd = "graft-owner".getBytes(ISO_8859_1)
    // V5 (AES-256 R6): the file key is RANDOM in real writers —
    // deterministic here — and wrapped into /UE (empty user password)
    // and /OE (the owner password); V≤4 derives it from the password
    val (o, u, key, v5Extra) =
      if (v == 5) {
        val fk = sha("SHA-256")(s"graft-filekey-$method".getBytes(ISO_8859_1))
        def salt(label: String) = md5(label.getBytes(ISO_8859_1)).take(8)
        val (vs, ks) = (salt("uvs"), salt("uks"))
        val u5 = hash2B(userPwd, vs, Array.emptyByteArray) ++ vs ++ ks
        val ue = wrapKey256(
          hash2B(userPwd, ks, Array.emptyByteArray), fk)
        val (ovs, oks) = (salt("ovs"), salt("oks"))
        val o5 = hash2B(ownerPwd, ovs, u5) ++ ovs ++ oks
        val oe = wrapKey256(hash2B(ownerPwd, oks, u5), fk)
        val permsPlain = intLE(p.toLong & 0xffffffffL, 4) ++
          Array[Byte](-1, -1, -1, -1, 'T', 'a', 'd', 'b') ++
          md5("perms-tail".getBytes(ISO_8859_1)).take(4)
        val ecb = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
        ecb.init(javax.crypto.Cipher.ENCRYPT_MODE,
          new javax.crypto.spec.SecretKeySpec(fk, "AES"))
        val perms = ecb.doFinal(permsPlain)
        def hx0(b: Array[Byte]): String =
          b.map(x => f"${x & 0xff}%02X").mkString("<", "", ">")
        (o5, u5, fk,
          s" /UE ${hx0(ue)} /OE ${hx0(oe)} /Perms ${hx0(perms)}")
      } else {
        val n = bits / 8
        val o4 = ownerValue(ownerPwd, userPwd, r, n)
        val k4 = fileKey(padPwd(userPwd), o4, p, id0, r, n,
          encryptMetadata = true)
        (o4, userValue(k4, id0, r), k4, "")
      }
    def hx(b: Array[Byte]): String =
      b.map(x => f"${x & 0xff}%02X").mkString("<", "", ">")
    def encrypt(num: Int, data: Array[Byte]): Array[Byte] =
      if (method == "aesv3")
        aesEncrypt(key, md5(s"iv$num".getBytes(ISO_8859_1)), data)
      else if (method == "aesv2")
        aesEncrypt(objectKey(key, num, 0, aes = true),
          md5(s"iv$num".getBytes(ISO_8859_1)), data)
      else rc4(objectKey(key, num, 0, aes = false), data)
    // layout: 1 catalog, 2 pages, 3..2+n page dicts, then content
    // streams, then the (never-encrypted) /Encrypt dict
    val pageNums = (0 until nPages).map(3 + _)
    val contNums = (0 until nPages).map(3 + nPages + _)
    val encNum = 3 + 2 * nPages
    val pdf = new ClassicPdf
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, s"<< /Type /Pages /Kids [${pageNums.map(x => s"$x 0 R").mkString(" ")}] /Count $nPages >>")
    pageNums.zip(contNums).foreach { case (pg, c) =>
      pdf.obj(pg, s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents $c 0 R >>")
    }
    pages.zip(contNums).foreach { case (lines, c) =>
      val text = "BT /F1 12 Tf 72 720 Td\n" +
        lines.map(l => s"(${esc(l)}) Tj 0 -14 Td").mkString("\n") + "\nET"
      // order per §7.6.2: compress first, encrypt last — /Length is
      // the stored (encrypted) byte count
      pdf.stream(c, encrypt(c, deflate(text.getBytes(ISO_8859_1))))(flateDict)
    }
    pdf.obj(encNum, s"<< /Filter /Standard /V $v /R $r /Length $bits$cfExtra" +
      s" /O ${hx(o)} /U ${hx(u)} /P $p$v5Extra >>")
    pdf.finish(s" /Encrypt $encNum 0 R /ID [${hx(id0)} ${hx(id0)}]")
  }

  /** Independent MIXED-WIDTH CMap encoder: a Type0 font whose
    * /ToUnicode CMap declares TWO codespace ranges — 1-byte <20><7E>
    * (ASCII identity via one bfrange) and 2-byte <8140><FFFC> (the
    * Shift-JIS-style frame real CJK-capable filings carry) — with
    * non-ASCII chars assigned sequential 2-byte codes from 0x8140
    * whose second byte stays inside [0x40,0xFC]. Show strings are hex
    * with MIXED byte widths, so byte-by-byte codespace matching
    * (§9.7.6.2) is load-bearing: a whole-value comparator would
    * misframe codes and garble every line. Classic xref, Flate
    * content, deterministic bytes. */
  def writePdfCidMixed(pages: Seq[Seq[String]]): Array[Byte] = {
    val nPages = pages.size
    require(nPages >= 1, "writePdfCidMixed needs at least one page")
    val nonAscii = pages.flatten.flatten
      .filter(c => c < 0x20 || c > 0x7e).distinct.sorted
    def code2(i: Int): Int = // 189 cells per row, second byte 0x40..0xFC
      ((0x81 + i / 0xBD) << 8) | (0x40 + i % 0xBD)
    val charCode = nonAscii.zipWithIndex
      .map { case (c, i) => c -> code2(i) }.toMap
    def hexShow(text: String): String =
      text.flatMap { c =>
        if (c >= 0x20 && c <= 0x7e) f"${c.toInt}%02X"
        else f"${charCode(c)}%04X"
      }.mkString("<", "", ">")
    val cmapText = {
      val sb = new StringBuilder
      sb.append("/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n")
      sb.append("2 begincodespacerange\n<20> <7E>\n<8140> <FFFC>\nendcodespacerange\n")
      sb.append("1 beginbfrange\n<20> <7E> <0020>\nendbfrange\n")
      if (nonAscii.nonEmpty) {
        sb.append(s"${nonAscii.size} beginbfchar\n")
        nonAscii.foreach(c => sb.append(f"<${charCode(c)}%04X> <${c.toInt}%04X>\n"))
        sb.append("endbfchar\n")
      }
      sb.append("endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n")
      sb.toString
    }
    val pageNums = (0 until nPages).map(3 + _)
    val contNums = (0 until nPages).map(3 + nPages + _)
    val fontNum = 3 + 2 * nPages; val cmapNum = 4 + 2 * nPages
    val pdf = new ClassicPdf
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, s"<< /Type /Pages /Kids [${pageNums.map(x => s"$x 0 R").mkString(" ")}] " +
      s"/Count $nPages /Resources << /Font << /F1 $fontNum 0 R >> >> >>")
    pageNums.zip(contNums).foreach { case (pg, c) =>
      pdf.obj(pg, s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents $c 0 R >>")
    }
    pages.zip(contNums).foreach { case (lines, c) =>
      val ops = Seq.newBuilder[String]
      ops += "BT"
      ops += "/F1 11 Tf"
      ops += "72 720 Td"
      lines.foreach { l => ops += s"${hexShow(l)} Tj"; ops += "0 -14 Td" }
      ops += "ET"
      pdf.flate(c, ops.result().mkString("\n").getBytes(ISO_8859_1))
    }
    pdf.obj(fontNum, "<< /Type /Font /Subtype /Type0 /BaseFont /GRAFT+Mixed " +
      s"/Encoding /Identity-H /ToUnicode $cmapNum 0 R >>")
    pdf.flate(cmapNum, cmapText.getBytes(ISO_8859_1))
    pdf.finish()
  }

  /** One page of the ruled-table fixture ([[writePdfRuled]]). A
    * `Ruled` page draws a `rows × cols` grid whose OUTER border is an
    * `re` stroke and whose inner rules are `m`/`l` strokes — or, with
    * `thinFill`, every rule a 1pt filled bar (`re f`), the other
    * encoding real tables use. `translate` wraps the page's ops in
    * `q <tx ty> cm … Q` with all coordinates LOCAL, exercising the
    * reader's CTM tracking. `cells(r)(c)` text sits inside cell (r, c),
    * top-left cell = (1, 1); a cell may hold several tokens (drawn as
    * separate show ops, left-to-right). A `Plain` page has no rulings
    * at all — the stream-fallback shape. */
  sealed trait RuledPageSpec
  final case class RuledPage(left: Double, top: Double,
      colWidths: Seq[Double], rowHeights: Seq[Double],
      cells: Map[(Int, Int), Seq[String]],
      thinFill: Boolean = false,
      translate: Option[(Double, Double)] = None,
      inlineImage: Boolean = false) extends RuledPageSpec
  final case class PlainPage(lines: Seq[(Int, Int, String)]) extends RuledPageSpec

  /** Independent RULED-TABLE encoder: real path-construction operators
    * (`re`, `m`, `l`) painted with `S` or `f` draw the grid the
    * lattice reader must recover — deterministic bytes, no reader code
    * shared with [[walkPaths]]. */
  def writePdfRuled(pages: Seq[RuledPageSpec]): Array[Byte] = {
    val streams = pages.map {
      case PlainPage(lines) =>
        lines.map { case (x, y, t) =>
          s"BT /F1 10 Tf $x $y Td (${esc(t)}) Tj ET"
        }.mkString("\n")
      case RuledPage(left, top, colWs, rowHs, cells, thinFill, translate,
          inlineImage) =>
        val width = colWs.sum
        val height = rowHs.sum
        val bottom = top - height
        val xs = colWs.scanLeft(left)(_ + _) // col boundaries, size cols+1
        val ys = rowHs.scanLeft(top)(_ - _) // row boundaries top-down
        val ops = new StringBuilder
        if (inlineImage) {
          // an INLINE IMAGE (§8.9.7) dropped mid-walk, its binary data
          // stuffed with operator LOOKALIKES — a spurious diagonal rule
          // (`m … l S`), a phantom filled bar (`re f`), and an
          // UNBALANCED `(` — real scanned-report PDFs carry exactly
          // this shape (logo bitmaps between the rulings). A reader
          // that fails to skip BI..ID..EI wholesale either corrupts
          // the cell grid (phantom cuts) or derails the text scan; the
          // m29 oracle catches both.
          ops.append("BI /W 4 /H 4 /BPC 8 /CS /G ID ")
          ops.append("\n0 0 m 600 600 l S\n999 1 77 1 re f\n( Kas\n")
          ops.append(" EI\n")
        }
        if (thinFill) {
          // every rule a 1pt filled bar centered on the boundary
          ys.foreach(y => ops.append(
            s"${fmtNum(left)} ${fmtNum(y - 0.5)} ${fmtNum(width)} 1 re f\n"))
          xs.foreach(x => ops.append(
            s"${fmtNum(x - 0.5)} ${fmtNum(bottom)} 1 ${fmtNum(height)} re f\n"))
        } else {
          // outer border one re-stroke; inner rules m/l strokes
          ops.append(s"${fmtNum(left)} ${fmtNum(bottom)} " +
            s"${fmtNum(width)} ${fmtNum(height)} re S\n")
          ys.tail.dropRight(1).foreach(y => ops.append(
            s"${fmtNum(left)} ${fmtNum(y)} m ${fmtNum(left + width)} ${fmtNum(y)} l S\n"))
          xs.tail.dropRight(1).foreach(x => ops.append(
            s"${fmtNum(x)} ${fmtNum(top)} m ${fmtNum(x)} ${fmtNum(bottom)} l S\n"))
        }
        // grid coordinates are LOCAL under `translate` (wrapped in
        // q cm … Q — the reader's CTM tracking maps them); TEXT is
        // always emitted at GLOBAL coordinates, the way report
        // generators typically split background art from content
        val (tx, ty) = translate.getOrElse((0.0, 0.0))
        val text = new StringBuilder
        cells.toSeq.sortBy(_._1).foreach { case ((r, c), toks) =>
          val cx = xs(c - 1) + 4 + tx
          val cy = ys(r) + 4 + ty // 4pt above the cell's bottom rule
          toks.zipWithIndex.foreach { case (t, ti) =>
            text.append(s"BT /F1 9 Tf ${fmtNum(cx + ti * 30)} ${fmtNum(cy)} " +
              s"Td (${esc(t)}) Tj ET\n")
          }
        }
        (translate match {
          case Some(_) =>
            s"q 1 0 0 1 ${fmtNum(tx)} ${fmtNum(ty)} cm\n" + ops.toString + "Q\n"
          case None => ops.toString
        }) + text.toString
    }
    assemblePdf(streams)
  }

  /** Independent TrueType encoder: a minimal font program holding ONLY
    * a `cmap` table (what the text-recovery path reads), format-4
    * subtables with correct segment arrays and binary-search header
    * fields. `codeToGid` pairs per (platform, encoding) subtable.
    * Shares no code with [[ttfCmaps]]. */
  def writeTtfProgram(subtables: Seq[((Int, Int), Seq[(Int, Int)])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v >> 8); w8(v) }
    def w32(v: Long): Unit = { w16((v >> 16).toInt); w16(v.toInt) }
    def fmt4(pairs: Seq[(Int, Int)]): Array[Byte] = {
      val b = new ByteArrayOutputStream()
      def b16(v: Int): Unit = { b.write((v >> 8) & 0xff); b.write(v & 0xff) }
      // one segment per code plus the mandatory terminal 0xFFFF segment
      val segs = pairs.sortBy(_._1).map { case (c, g) =>
        (c, c, (g - c) & 0xFFFF) } :+ ((0xFFFF, 0xFFFF, 1))
      val segCount = segs.size
      val floorLog = 31 - Integer.numberOfLeadingZeros(segCount)
      val searchRange = 2 * (1 << floorLog)
      b16(4); b16(16 + 8 * segCount); b16(0) // format, length, language
      b16(segCount * 2); b16(searchRange); b16(floorLog)
      b16(2 * segCount - searchRange)
      segs.foreach { case (_, end, _) => b16(end) }
      b16(0) // reservedPad
      segs.foreach { case (start, _, _) => b16(start) }
      segs.foreach { case (_, _, delta) => b16(delta) }
      segs.foreach(_ => b16(0)) // idRangeOffset: all delta-mapped
      b.toByteArray
    }
    val bodies = subtables.map { case (_, pairs) => fmt4(pairs) }
    val cmapLen = 4 + 8 * subtables.size + bodies.map(_.length).sum
    // offset table: one table record ('cmap' at offset 28)
    w32(0x00010000L); w16(1); w16(16); w16(0); w16(0)
    out.write("cmap".getBytes(ISO_8859_1)); w32(0L); w32(28L); w32(cmapLen.toLong)
    // cmap header + subtable records + bodies
    w16(0); w16(subtables.size)
    var off = 4 + 8 * subtables.size
    subtables.zip(bodies).foreach { case (((pid, eid), _), body) =>
      w16(pid); w16(eid); w32(off.toLong); off += body.length
    }
    bodies.foreach(out.write)
    out.toByteArray
  }

  /** Independent Type1 encoder: the CLEARTEXT program head with a
    * builtin /Encoding array (`dup code /glyph put`), an `eexec`
    * marker, and dummy private-section bytes — the §9.6.6.2 shape a
    * pre-2010 subsetted Type1 embeds. */
  def writeType1Program(codeToGlyph: Seq[(Int, String)]): Array[Byte] =
    ("%!PS-AdobeFont-1.0: GraftSubset 001.001\n" +
      "/FontName /GraftSubset def\n" +
      "/FontType 1 def\n" +
      "/Encoding 256 array\n" +
      "0 1 255 {1 index exch /.notdef put} for\n" +
      codeToGlyph.map { case (c, g) => s"dup $c /$g put" }.mkString("\n") +
      "\nreadonly def\n" +
      "currentdict end\ncurrentfile eexec\n" +
      "0123456789abcdef0123456789abcdef\n").getBytes(ISO_8859_1)

  /** Independent FONT-PROGRAM fixture encoder: one page whose lines
    * are shown through three fonts that all lack /ToUnicode AND any
    * standard /Encoding — text is recoverable ONLY from the embedded
    * programs' own tables (the pre-2010 subset shape):
    *   font 1 — simple /TrueType, FontFile2 whose cmap carries a
    *     symbolic (3,0) code subtable (0xF000-offset codes, NON-identity
    *     code assignment) plus the (3,1) unicode subtable;
    *   font 2 — /Type1, FontFile builtin encoding via uniXXXX names;
    *   font 3 — /Type0 /Identity-H, descendant CID font whose
    *     FontFile2 has ONLY the (3,1) subtable: 2-byte show codes ARE
    *     glyph ids, unicode comes from the inverted table.
    * Each line is (font 1|2|3, text). Classic xref, hex show strings,
    * deterministic bytes. */
  def writePdfFontProg(lines: Seq[(Int, String)]): Array[Byte] = {
    val chars = lines.flatMap(_._2).distinct.sorted
    // NON-identity code assignment: i-th char shows as byte i+2
    val codeOf = chars.zipWithIndex.map { case (c, i) => c -> (i + 2) }.toMap
    val gidOf = chars.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
    val ttfSimple = writeTtfProgram(Seq(
      (3, 0) -> chars.map(c => (0xF000 + codeOf(c)) -> gidOf(c)),
      (3, 1) -> chars.map(c => c.toInt -> gidOf(c))))
    val ttfCid = writeTtfProgram(Seq(
      (3, 1) -> chars.map(c => c.toInt -> gidOf(c))))
    val t1 = writeType1Program(chars.map(c =>
      codeOf(c) -> f"uni${c.toInt}%04X"))
    def hexOf(text: String, font: Int): String =
      text.map { c =>
        if (font == 3) f"${gidOf(c)}%04X" else f"${codeOf(c)}%02X"
      }.mkString("<", "", ">")
    val content = {
      val ops = Seq.newBuilder[String]
      ops += "BT"; ops += "72 720 Td"
      lines.foreach { case (f, text) =>
        ops += s"/F$f 11 Tf"
        ops += s"${hexOf(text, f)} Tj"
        ops += "0 -14 Td"
      }
      ops += "ET"
      ops.result().mkString("\n")
    }
    val pdf = new ClassicPdf
    def streamObj(num: Int, dict: String, data: Array[Byte]): Unit =
      pdf.stream(num, data)(len => s"<< /Length $len $dict >>")
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    pdf.obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R " +
      "/Resources << /Font << /F1 5 0 R /F2 8 0 R /F3 11 0 R >> >> >>")
    streamObj(4, "", content.getBytes(ISO_8859_1))
    pdf.obj(5, "<< /Type /Font /Subtype /TrueType /BaseFont /AAAAAA+GraftTTF " +
      "/FirstChar 2 /LastChar 255 /FontDescriptor 6 0 R >>")
    pdf.obj(6, "<< /Type /FontDescriptor /FontName /AAAAAA+GraftTTF /Flags 4 " +
      "/FontFile2 7 0 R >>")
    streamObj(7, s"/Length1 ${ttfSimple.length}", ttfSimple)
    pdf.obj(8, "<< /Type /Font /Subtype /Type1 /BaseFont /BBBBBB+GraftT1 " +
      "/FontDescriptor 9 0 R >>")
    pdf.obj(9, "<< /Type /FontDescriptor /FontName /BBBBBB+GraftT1 /Flags 4 " +
      "/FontFile 10 0 R >>")
    streamObj(10, s"/Length1 ${t1.length} /Length2 0 /Length3 0", t1)
    pdf.obj(11, "<< /Type /Font /Subtype /Type0 /BaseFont /CCCCCC+GraftCID " +
      "/Encoding /Identity-H /DescendantFonts [12 0 R] >>")
    pdf.obj(12, "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /CCCCCC+GraftCID " +
      "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> " +
      "/FontDescriptor 13 0 R >>")
    pdf.obj(13, "<< /Type /FontDescriptor /FontName /CCCCCC+GraftCID /Flags 4 " +
      "/FontFile2 14 0 R >>")
    streamObj(14, s"/Length1 ${ttfCid.length}", ttfCid)
    pdf.finish()
  }

  /** The one-content-stream-per-page layout of [[writePdf]],
    * [[writePdfPositioned]] and [[writePdfRuled]]: 1 catalog, 2 pages,
    * then page (3+2i) and its Flate content (4+2i) per page. */
  private def assemblePdf(streams: Seq[String],
      rotates: Seq[Int] = Seq.empty): Array[Byte] = {
    val nPages = streams.size
    val pdf = new ClassicPdf
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, s"<< /Type /Pages /Kids [${(0 until nPages).map(i => s"${3 + 2 * i} 0 R").mkString(" ")}] /Count $nPages >>")
    streams.zipWithIndex.foreach { case (streamText, i) =>
      val pageNum = 3 + 2 * i
      val contNum = 4 + 2 * i
      val rot = rotates.lift(i).getOrElse(0) match {
        case 0 => ""
        case r => s"/Rotate $r "
      }
      pdf.obj(pageNum, s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] $rot/Contents $contNum 0 R >>")
      pdf.flate(contNum, streamText.getBytes(ISO_8859_1))
    }
    pdf.finish()
  }

  /** The classic PDF file every fixture encoder but [[writePdfModern]]
    * writes: a `%PDF-1.4` header, objects numbered 1..N and emitted in
    * that order, a classic xref table and a trailer. One char per byte
    * (ISO-8859-1), so the body's length is the byte offset the xref
    * records. An object emitted out of number order fails loudly: the
    * xref lists offsets in emission order, so it would silently point
    * each number at the wrong object. Shares no code with the reader. */
  private[graft] final class ClassicPdf {
    private val body = new StringBuilder("%PDF-1.4\n")
    private val offsets = scala.collection.mutable.ArrayBuffer[Int]()

    private def begin(num: Int): Unit = {
      require(num == offsets.size + 1,
        s"object $num emitted out of order: object ${offsets.size + 1} is next")
      offsets += body.length
    }

    def obj(num: Int, content: String): Unit = {
      begin(num)
      body.append(s"$num 0 obj\n$content\nendobj\n")
    }

    /** A stream object holding `data` as stored; `dict` renders the
      * exact dictionary text from the stored byte count. */
    def stream(num: Int, data: Array[Byte])(dict: Int => String): Unit = {
      begin(num)
      body.append(s"$num 0 obj\n${dict(data.length)}\nstream\n")
      body.append(new String(data, ISO_8859_1))
      body.append("\nendstream\nendobj\n")
    }

    /** A stream object holding `data` deflated. */
    def flate(num: Int, data: Array[Byte]): Unit =
      stream(num, deflate(data))(flateDict)

    /** The xref table and trailer; `trailerTail` follows `/Root 1 0 R`
      * (e.g. ` /Encrypt 9 0 R /ID [...]`). */
    def finish(trailerTail: String = ""): Array[Byte] = {
      val xrefPos = body.length
      val size = offsets.size + 1
      body.append(s"xref\n0 $size\n0000000000 65535 f \n")
      offsets.foreach(o => body.append(f"$o%010d 00000 n \n"))
      body.append(s"trailer\n<< /Size $size /Root 1 0 R$trailerTail >>\nstartxref\n$xrefPos\n%%EOF\n")
      body.toString.getBytes(ISO_8859_1)
    }
  }

  private def flateDict(n: Int): String = s"<< /Length $n /Filter /FlateDecode >>"

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.BEST_COMPRESSION)
    d.setInput(data)
    d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }
}
