package graft

import graft.queries.Media
import graft.sources.Pdf

class PdfSpec extends SparkSpec {

  private val linesGate = Media.pdfTextGate("m05_pdf_lines")
  private def dir = Media.writeFiles("/tmp/graft-pdf-spec",
    linesGate.files.map(f => f.name -> f.bytes))

  test("parser round-trips the writer's PDFs line-for-line") {
    val got = Pdf.read(spark, dir).toDF()
      .orderBy("file", "page", "line_no")
      .collect().map(_.toSeq).toSeq
    val want = Media.pdfTextExpected(spark, linesGate)
      .orderBy("file", "page", "line_no")
      .collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("escaped parentheses and backslashes survive the round trip") {
    val bytes = Pdf.writePdf(Seq(Seq("""a (b) \ c""", "plain")))
    assert(Pdf.parsePdf(bytes) ==
      Seq((1L, 0L, """a (b) \ c"""), (1L, 1L, "plain")))
  }

  test("page order follows /Kids, content is genuinely FlateDecode") {
    val bytes = Pdf.writePdf(Seq(Seq("p1"), Seq("p2"), Seq("p3")))
    val raw = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(raw.contains("/Filter /FlateDecode"))
    assert(!raw.contains("p2) Tj")) // text not stored in clear
    assert(Pdf.parsePdf(bytes).map(_._1) == Seq(1L, 2L, 3L))
  }

  test("positioned parser reports absolute coordinates for both writer shapes") {
    // absolute per-cell BT/Td blocks
    val pos = Pdf.writePdfPositioned(Seq(Seq((72, 700, "a"), (250, 700, "b (x)"))))
    assert(Pdf.parsePdfPositioned(pos) ==
      Seq((1L, 0L, 72.0, 700.0, "a"), (1L, 1L, 250.0, 700.0, "b (x)")))
    // relative line-walk shape: Td offsets accumulate within BT/ET
    val rel = Pdf.writePdf(Seq(Seq("l1", "l2", "l3")))
    assert(Pdf.parsePdfPositioned(rel).map(t => (t._3, t._4, t._5)) ==
      Seq((72.0, 720.0, "l1"), (72.0, 706.0, "l2"), (72.0, 692.0, "l3")))
  }

  test("tableRegion crops to the area and rebuilds the grid") {
    val d = Media.writePdfPosFixture("/tmp/graft-pdf-pos-spec")
    val rows = Pdf.tableRegion(spark, d, 60, 570, 400, 650).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(6)))
    // nothing outside the crop area leaks in
    assert(!rows.exists(r => Set("LAPORAN POSISI KEUANGAN", "PT Contoh Tbk",
      "Lihat catatan terlampir", "di luar area", "margin-note", "Paragraf lain")(r._5)))
    // grid shape on the 2023 page-1 table: 4 rows x 3 cols
    val p1 = rows.filter(r => r._1 == "tbl_2023.pdf" && r._2 == 1L)
    assert(p1.map(r => (r._3, r._4, r._5)).toSeq == Seq(
      (1L, 1L, "Pos"), (1L, 2L, "2023"), (1L, 3L, "2022"),
      (2L, 1L, "Kas dan setara kas"), (2L, 2L, "1500.5"), (2L, 3L, "1200.25"),
      (3L, 1L, "Piutang usaha"), (3L, 2L, "800"), (3L, 3L, "650.75"),
      (4L, 1L, "Jumlah aset"), (4L, 2L, "2300.5"), (4L, 3L, "1851")))
    // escaped parens survive: page 2's (6500)
    assert(rows.exists(r => r._1 == "tbl_2023.pdf" && r._2 == 2L && r._5 == "(6500)"))
  }

  test("searchPages returns the first matching page per file only") {
    val rows = Pdf.searchPages(spark, dir, "laba").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("filing_2024.pdf", 1L)))
    val umum = Pdf.searchPages(spark, dir, "umum").collect()
    assert(umum.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("filing_2023.pdf", 2L)))
  }

  // ---- full-spec (PDF 1.5) shapes: the m20 surface -------------------

  test("modern encoder (xref stream, ObjStm, TJ, /Contents array, nested tree) round-trips line-for-line") {
    Media.pdfTextGate("m20_pdf_tj").files.map(_.pages).foreach { pages =>
      val bytes = Pdf.writePdfModern(pages)
      val raw = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      // the fixture genuinely exercises the modern structures
      assert(raw.contains("/XRef") && raw.contains("/ObjStm") &&
        raw.contains("/Predictor 12"))
      assert(!raw.contains("\nxref\n"), "must use an xref STREAM, not a table")
      assert(!raw.contains("/Catalog"), "catalog must live inside the ObjStm")
      val got = Pdf.parsePdf(bytes)
      val want = for {
        (lines, pi) <- pages.zipWithIndex
        (text, li) <- lines.zipWithIndex
      } yield ((pi + 1).toLong, li.toLong, text)
      assert(got == want)
    }
  }

  test("TJ kerning rule: word-break kerns reassemble spaces, split kerns don't; hex strings decode") {
    // handcrafted content exercised through a legacy-shape file so the
    // tokenizer is certified independently of writePdfModern's choices
    val content = "BT 72 720 Td " +
      "[(Ka) -20 (s) -250 <64616E> -250 (kas)] TJ " +
      "[(tight) -179 (join)] TJ (\\110\\151) Tj ET"
    val bytes = rawPdf(content)
    assert(Pdf.parsePdf(bytes) == Seq(
      (1L, 0L, "Kas dan kas"), // -20 splices, -250 breaks, hex decodes
      (1L, 1L, "tightjoin"),   // -179 is above the -180 break threshold
      (1L, 2L, "Hi")))         // octal escapes
  }

  test("quote and double-quote show ops, TD leading, Tm positioning") {
    val content = "BT 1 0 0 1 100 700 Tm 0 -20 TD (a) Tj " +
      "(b) ' 2 3 (c) \" T* (d) Tj ET"
    val got = Pdf.parsePdfPositioned(rawPdf(content))
    assert(got == Seq(
      (1L, 0L, 100.0, 680.0, "a"),  // Tm then TD translate
      (1L, 1L, 100.0, 660.0, "b"),  // ' = next line + show
      (1L, 2L, 100.0, 640.0, "c"),  // " = aw ac next line + show
      (1L, 3L, 100.0, 620.0, "d"))) // T* walks by the TD leading
  }

  test("corrupt and truncated inputs fail loudly, with the reason in the message") {
    // not a PDF at all
    val e1 = intercept[IllegalArgumentException] {
      Pdf.parsePdf("hello world, definitely not a pdf".getBytes("US-ASCII"))
    }
    assert(e1.getMessage.contains("%PDF-"))
    // startxref pointing nowhere
    val good = Pdf.writePdfModern(Seq(Seq("x")))
    val badXref = (new String(good, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replaceAll("startxref\\n\\d+", "startxref\n99999999"))
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val e2 = intercept[IllegalArgumentException] { Pdf.parsePdf(badXref) }
    assert(e2.getMessage.startsWith("corrupt PDF"))
    // truncated file: the xref stream (and catalog's ObjStm) cut off
    val e3 = intercept[IllegalArgumentException] {
      Pdf.parsePdf(good.take(good.length / 2))
    }
    assert(e3.getMessage.startsWith("corrupt PDF"))
    // a stream whose /Length runs past end-of-file
    val classic = Pdf.writePdf(Seq(Seq("hello")))
    val overLen = (new String(classic, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replaceFirst("/Length \\d+", "/Length 999999"))
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val e4 = intercept[IllegalArgumentException] { Pdf.parsePdf(overLen) }
    assert(e4.getMessage.startsWith("corrupt PDF"))
  }

  test("incremental update (appended object + second xref with /Prev) reads the NEWEST object version") {
    // the standard append-only update shape: a revised content stream
    // for page 1 is appended after %%EOF with a new xref section whose
    // /Prev chains to the original — newest definition must win
    val base = Pdf.writePdf(Seq(Seq("original text")))
    val raw = new String(base, java.nio.charset.StandardCharsets.ISO_8859_1)
    val oldStart = raw.lastIndexOf("startxref")
    val oldXref = raw.substring(oldStart + 9).trim.takeWhile(_.isDigit)
    val newContent = "BT 72 720 Td (revised text) Tj ET"
    val sb = new StringBuilder(raw)
    val objOff = sb.length
    // object 4 is the page's /Contents in writePdf's numbering
    sb.append(s"4 0 obj\n<< /Length ${newContent.length} >>\nstream\n")
      .append(newContent).append("\nendstream\nendobj\n")
    val xrefOff = sb.length
    sb.append(f"xref\n4 1\n$objOff%010d 00001 n \n")
      .append(s"trailer\n<< /Size 5 /Root 1 0 R /Prev $oldXref >>\n")
      .append(s"startxref\n$xrefOff\n%%EOF\n")
    val updated = sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(Pdf.parsePdf(updated) == Seq((1L, 0L, "revised text")))
    // and the original, read on its own, still says the original
    assert(Pdf.parsePdf(base) == Seq((1L, 0L, "original text")))
  }

  test("a pre-xref hand-built file (no startxref) still reads via the legacy scan") {
    val classic = Pdf.writePdf(Seq(Seq("legacy line")))
    val raw = new String(classic, java.nio.charset.StandardCharsets.ISO_8859_1)
    val noXref = raw.substring(0, raw.indexOf("xref\n"))
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(Pdf.parsePdf(noXref) == Seq((1L, 0L, "legacy line")))
  }

  test("CID encoder round-trips through the /ToUnicode CMap, fonts alternating per line") {
    Media.pdfTextGate("m22_pdf_cid").files.map(_.pages).foreach { ps =>
      val got = Pdf.parsePdf(Pdf.writePdfCid(ps))
      val want = for {
        (lines, pi) <- ps.zipWithIndex
        (text, li) <- lines.zipWithIndex
      } yield ((pi + 1).toLong, li.toLong, text)
      assert(got == want)
    }
    // and the CID bytes really are opaque: the raw content stream of an
    // F1 line shares no substring with its text (the coding is private)
    val bytes = Pdf.writePdfCid(Seq(Seq("plain", "hidden secret")))
    val raw = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(!raw.contains("hidden"))
    assert(Pdf.parsePdf(bytes).map(_._3) == Seq("plain", "hidden secret"))
  }

  test("parseCMap: bfchar, incremented bfrange, array bfrange, multi-unit dst, synthesized codespace") {
    val cm = Pdf.parseCMap(
      """begincodespacerange <0000> <FFFF> endcodespacerange
        |2 beginbfchar <0041> <0058> <0500> <00660069> endbfchar
        |1 beginbfrange <0100> <0102> <0061> endbfrange
        |1 beginbfrange <0200> <0201> [<004B0061> <0073>] endbfrange
        |""".stripMargin)
    assert(cm.decode("\u0000A") == "X")                    // bfchar
    assert(cm.decode("\u0005\u0000") == "fi")               // two UTF-16 units
    assert(cm.decode("\u0001\u0000\u0001\u0002") == "ac")    // increment form
    assert(cm.decode("\u0002\u0000\u0002\u0001") == "Kas")   // array form
    assert(cm.decode("\u0009\u0009") == "\ufffd")            // in codespace, unmapped
    // no codespacerange: width inferred from the bfchar src
    val inferred = Pdf.parseCMap("1 beginbfchar <0041> <005A> endbfchar")
    assert(inferred.decode("\u0000A") == "Z")
    // 1-byte codespace decodes bytewise and passes unmapped bytes through
    val oneByte = Pdf.parseCMap(
      "begincodespacerange <00> <7F> endcodespacerange " +
        "1 beginbfchar <41> <0042> endbfchar")
    assert(oneByte.decode("Aé") == "Bé") // 0xE9 outside codespace
  }

  test("a font without /ToUnicode passes through as Latin-1; text before any Tf too") {
    // rawPdf carries no /Resources at all — every string passes through
    assert(Pdf.parsePdf(rawPdf("BT (no fonts anywhere) Tj ET"))
      == Seq((1L, 0L, "no fonts anywhere")))
    // and an unknown font name in Tf is not an error
    assert(Pdf.parsePdf(rawPdf("BT /F9 8 Tf (unknown font) Tj ET"))
      == Seq((1L, 0L, "unknown font")))
  }

  test("a /ToUnicode ref to a missing object fails loudly; a bomb bfrange fails loudly") {
    val bytes = Pdf.writePdfCid(Seq(Seq("a", "b")))
    val raw = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    // retarget F1's /ToUnicode at an absent object number — same digit
    // count so the xref offsets stay valid and THIS failure is the one
    // under test (for a 1-page file the CMap is object 6; 9 is absent)
    val broken = raw.replaceFirst("/ToUnicode 6 0 R", "/ToUnicode 9 0 R")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val e = intercept[IllegalArgumentException](Pdf.parsePdf(broken))
    assert(e.getMessage.contains("9"))
    val bomb = intercept[IllegalArgumentException](
      Pdf.parseCMap("1 beginbfrange <000000> <FFFFFF> <0041> endbfrange"))
    assert(bomb.getMessage.contains("bfrange"))
  }

  test("hybrid reference file (classic trailer + /XRefStm) finds the compressed objects") {
    // Acrobat's 1.5-compatibility shape: catalog/pages/page live in an
    // ObjStm; the CLASSIC table only knows the content stream and the
    // containers; the trailer's /XRefStm points at the xref STREAM that
    // locates the compressed dicts. Hand-built, uncompressed streams.
    val content = "BT 72 720 Td (hybrid text) Tj ET"
    val s = new StringBuilder
    s.append("%PDF-1.5\n")
    // obj 4: the page's content stream (a plain classic object)
    val off4 = s.length
    s.append(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n")
      .append(content).append("\nendstream\nendobj\n")
    // obj 5: ObjStm holding 1 (catalog), 2 (pages), 3 (page)
    val m1 = "<< /Type /Catalog /Pages 2 0 R >>"
    val m2 = "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
    val m3 = "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
    val header = s"1 0 2 ${m1.length + 1} 3 ${m1.length + m2.length + 2}\n"
    val objStm = header + Seq(m1, m2, m3).mkString("\n") + "\n"
    val off5 = s.length
    s.append(s"5 0 obj\n<< /Type /ObjStm /N 3 /First ${header.length} " +
      s"/Length ${objStm.length} >>\nstream\n")
      .append(objStm).append("\nendstream\nendobj\n")
    // obj 6: the xref STREAM for the compressed objects + containers
    val rows = Seq[(Long, Long)]((2L, 0L), (2L, 1L), (2L, 2L)) // 1,2,3 → in 5
    val w2 = 4
    val payload = new java.io.ByteArrayOutputStream()
    def row(t: Int, f2: Long, f3: Int): Unit = {
      payload.write(t)
      (0 until w2).reverse.foreach(k => payload.write(((f2 >> (8 * k)) & 0xff).toInt))
      payload.write(f3)
    }
    rows.zipWithIndex.foreach { case ((_, idx), _) => row(2, 5L, idx.toInt) }
    row(1, off5.toLong, 0) // obj 5
    val off6 = s.length
    row(1, off6.toLong, 0) // obj 6, self-referential offset
    val body = payload.toByteArray
    s.append(s"6 0 obj\n<< /Type /XRef /Size 7 /W [1 $w2 1] /Index [1 3 5 2] " +
      s"/Root 1 0 R /Length ${body.length} >>\nstream\n")
      .append(new String(body, java.nio.charset.StandardCharsets.ISO_8859_1))
      .append("\nendstream\nendobj\n")
    // the CLASSIC table: only object 4 (what a pre-1.5 reader can see)
    val xrefOff = s.length
    s.append("xref\n0 1\n0000000000 65535 f \n")
    s.append(f"4 1\n$off4%010d 00000 n \n")
    s.append(s"trailer\n<< /Size 7 /Root 1 0 R /XRefStm $off6 >>\n")
    s.append(s"startxref\n$xrefOff\n%%EOF\n")
    val bytes = s.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(Pdf.parsePdf(bytes) == Seq((1L, 0L, "hybrid text")))
  }

  test("filter chains decode in order: ASCII85 and ASCIIHex wrap Flate; unknown filters fail loudly") {
    // independent encoders, written here against the spec
    def a85(bytes: Array[Byte]): String = {
      val sb = new StringBuilder
      bytes.grouped(4).foreach { g =>
        var v = 0L
        (0 until 4).foreach(k => v = (v << 8) | (if (k < g.length) g(k) & 0xffL else 0L))
        if (g.length == 4 && v == 0L) sb.append('z')
        else {
          val cs = new Array[Char](5)
          (4 to 0 by -1).foreach { k => cs(k) = ('!' + (v % 85).toInt).toChar; v /= 85 }
          sb.appendAll(cs, 0, g.length + 1)
        }
      }
      sb.append("~>").toString
    }
    def deflate(s: String): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1024)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    def filteredPdf(filterSpec: String, payload: String): Array[Byte] = {
      val s = new StringBuilder
      val offs = scala.collection.mutable.ArrayBuffer[Int]()
      s.append("%PDF-1.4\n")
      def obj(n: Int, body: String): Unit = {
        offs += s.length; s.append(s"$n 0 obj\n$body\nendobj\n")
      }
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
      offs += s.length
      s.append(s"4 0 obj\n<< /Length ${payload.length} /Filter $filterSpec >>\nstream\n")
        .append(payload).append("\nendstream\nendobj\n")
      val xref = s.length
      s.append("xref\n0 5\n0000000000 65535 f \n")
      offs.foreach(o => s.append(f"$o%010d 00000 n \n"))
      s.append(s"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
      s.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    val content = "BT 72 720 Td (chained filters) Tj ET"
    // [/ASCII85Decode /FlateDecode] — the classic mail-safe wrapping
    val a85Wrapped = a85(deflate(content))
    assert(Pdf.parsePdf(filteredPdf("[/ASCII85Decode /FlateDecode]", a85Wrapped))
      == Seq((1L, 0L, "chained filters")))
    // /ASCIIHexDecode alone, odd trailing digit exercised via '>' EOD
    val hexed = content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      .map(b => f"${b & 0xff}%02x").mkString("", " ", ">")
    assert(Pdf.parsePdf(filteredPdf("/ASCIIHexDecode", hexed))
      == Seq((1L, 0L, "chained filters")))
    // an unsupported filter names itself in the failure
    val e = intercept[IllegalArgumentException] {
      Pdf.parsePdf(filteredPdf("/LZWDecode", "xxxx"))
    }
    assert(e.getMessage.contains("LZWDecode"))
    // unit laws: z-group zeros, partial-group padding, whitespace
    assert(Pdf.ascii85Decode("z~>".getBytes("US-ASCII")).toSeq == Seq[Byte](0, 0, 0, 0))
    assert(Pdf.ascii85Decode(a85("ab".getBytes("US-ASCII")).getBytes("US-ASCII")).toSeq
      == "ab".getBytes("US-ASCII").toSeq)
    assert(Pdf.asciiHexDecode("4 1 4".getBytes("US-ASCII")).toSeq
      == Seq[Byte](0x41, 0x40)) // odd final digit pads with 0
  }

  test("simple-font /Encoding + /Differences round-trips the legacy fixture") {
    Media.pdfTextGate("m23_pdf_differences").files.map(_.pages).foreach { pages =>
      val got = Pdf.parsePdf(Pdf.writePdfDifferences(pages))
      val want = for {
        (lines, pi) <- pages.zipWithIndex
        (text, li) <- lines.zipWithIndex
      } yield ((pi + 1).toLong, li.toLong, text)
      assert(got == want)
    }
  }

  test("legacy encoder emits the published Appendix-D byte codes (hand-checked anchors)") {
    // content streams are uncompressed, so the show-string hex is
    // visible in the raw bytes — these codes are transcribed from the
    // published tables BY HAND, independent of both table modules:
    // MacRoman é=8E, Differences €=DB(219) ﬁ=F5(245); WinAnsi €=80
    // é=E9 «=AB; Standard-with-Differences à=41 ‘=60 ’=27 ﬁ=AE
    val raw = new String(
      Pdf.writePdfDifferences(Seq(Seq("é€ﬁ", "€é«", "à‘’ﬁ"))),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(raw.contains("<8EDBF5> Tj"))
    assert(raw.contains("<80E9AB> Tj"))
    assert(raw.contains("<416027AE> Tj"))
  }

  test("Differences override the base table and AGL algorithmic names resolve") {
    // byte 'A' (65) decodes as agrave because Differences win
    assert(Pdf.simpleFontDec("", Some("<< /Differences [ 65 /agrave ] >>"))
      .decode("AB") == "àB")
    // uniXXXX / uXXXXX forms and the unknown-name U+FFFD convention
    assert(Pdf.glyphText("uni2014") == "—")
    assert(Pdf.glyphText("u1D400") == new String(Character.toChars(0x1D400)))
    assert(Pdf.glyphText("a12") == "�")
  }

  test("a non-standard named encoding degrades THAT FONT to U+FFFD, not the scan") {
    val content = "BT /F1 11 Tf 72 720 Td (abc) Tj ET"
    def pdfWithEncoding(enc: String): Array[Byte] = {
      val s = new StringBuilder
      val offs = scala.collection.mutable.ArrayBuffer[Int]()
      s.append("%PDF-1.4\n")
      def obj(n: Int, body: String): Unit = {
        offs += s.length; s.append(s"$n 0 obj\n$body\nendobj\n")
      }
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
        "/Resources << /Font << /F1 5 0 R >> >> >>")
      offs += s.length
      s.append(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n")
        .append(content).append("\nendstream\nendobj\n")
      obj(5, s"<< /Type /Font /Subtype /Type0 /BaseFont /X /Encoding $enc >>")
      val xref = s.length
      s.append("xref\n0 6\n0000000000 65535 f \n")
      offs.foreach(o => s.append(f"$o%010d 00000 n \n"))
      s.append(s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
      s.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    // Identity-H with no /ToUnicode has no recoverable text mapping —
    // that ONE FONT's text reads as U+FFFD; the scan itself survives,
    // so a single legacy filing cannot kill a directory-wide read
    assert(Pdf.parsePdf(pdfWithEncoding("/Identity-H"))
      == Seq((1L, 0L, "���")))
    // the three standard names still read fine through the same shape
    assert(Pdf.parsePdf(pdfWithEncoding("/WinAnsiEncoding"))
      == Seq((1L, 0L, "abc")))
  }

  test("form XObjects: Do-invoked text reads in place, nested matrices compose, fonts inherit") {
    val bytes = Pdf.writePdfForm(
      Seq(Seq("body satu", "body dua")), "Kop — Surat €1", "CAP €2")
    // text content + stream order: header, nested stamp, body
    assert(Pdf.parsePdf(bytes) == Seq(
      (1L, 0L, "Kop — Surat €1"),
      (1L, 1L, "CAP €2"),
      (1L, 2L, "body satu"),
      (1L, 3L, "body dua")))
    // positions compose through both matrices: header (10,10) through
    // [1 0 0 1 0 650] → (10,660); stamp (5,5) through its scaling
    // [2 0 0 2 100 30] → (110,40), then the header's → (110,690)
    val pos = Pdf.parsePdfPositioned(bytes).map(t => (t._3, t._4, t._5))
    assert(pos.take(2) == Seq(
      (10.0, 660.0, "Kop — Surat €1"),
      (110.0, 690.0, "CAP €2")))
    // the cp1252 bytes prove the decode went through the INHERITED
    // WinAnsi font: a Latin-1 passthrough would read 0x80 as U+0080
    val raw = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(raw.contains("CAP \u0080" + "2"), "stamp must be stored as cp1252 bytes")
  }

  test("an /Encrypt trailer fails as encrypted, not corrupt") {
    val base = new String(rawPdf("BT (x) Tj ET"),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val enc = base.replace("/Size 5 /Root 1 0 R", "/Size 5 /Root 1 0 R /Encrypt 9 0 R")
    val e = intercept[IllegalArgumentException] {
      Pdf.parsePdf(enc.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    }
    assert(e.getMessage.contains("encrypted"))
    assert(!e.getMessage.startsWith("corrupt PDF"))
  }

  test("an /XRefStm cycle fails loudly instead of recursing to StackOverflowError") {
    val base = new String(rawPdf("BT (x) Tj ET"),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val xrefOff = base.indexOf("\nxref\n") + 1
    // the classic trailer's /XRefStm points back at the classic section
    val cyc = base.replace("/Size 5 /Root 1 0 R",
      s"/Size 5 /Root 1 0 R /XRefStm $xrefOff")
    val e = intercept[IllegalArgumentException] {
      Pdf.parsePdf(cyc.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    }
    assert(e.getMessage.contains("cycle"))
  }

  test("CMap hex strings tolerate interior whitespace") {
    val cm = Pdf.parseCMap(
      """1 begincodespacerange
        |<00 00> <FF FF>
        |endcodespacerange
        |1 beginbfchar
        |<00 41> <00 42>
        |endbfchar""".stripMargin)
    assert(cm.decode("\u0000A") == "B")
  }

  test("codespace ranges match byte-by-byte, not by whole-value compare") {
    val cm = Pdf.parseCMap(
      """1 begincodespacerange
        |<8140> <9FFC>
        |endcodespacerange
        |1 beginbfchar
        |<8140> <0041>
        |endbfchar""".stripMargin)
    // 0x8210 is inside [0x8140, 0x9FFC] as a VALUE but its second byte
    // 0x10 < 0x40 — per §9.7.6.2 it is outside the codespace, so both
    // bytes pass through as Latin-1 instead of framing as one code
    assert(cm.decode("\u0082\u0010") == "\u0082\u0010")
    assert(cm.decode("\u0081\u0040") == "A")
  }

  test("standard-handler crypto matches independently computed known-answer vectors") {
    def hx(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString
    // the published RC4 test vector (key "Key", plaintext "Plaintext")
    // certifies the cipher core against public knowledge
    assert(hx(Pdf.rc4("Key".getBytes("US-ASCII"), "Plaintext".getBytes("US-ASCII")))
      == "bbf316e8d940af0ad3")
    // Algorithms 2/3/4/5 anchored against vectors computed with an
    // INDEPENDENT implementation (python hashlib + a standalone ARC4),
    // for the exact parameters writePdfEncrypted uses — a symmetric
    // transcription bug in the shared Scala code cannot pass these
    val owner = "graft-owner".getBytes("US-ASCII")
    val none = Array.emptyByteArray
    // rc4-40: V1/R2, n=5
    val id40 = Pdf.md5("graft-fixture-rc4-40".getBytes("US-ASCII"))
    assert(hx(id40) == "4fb5476a616fc4ce470b0207f66f6a39") // plain MD5, sanity
    val o40 = Pdf.ownerValue(owner, none, 2, 5)
    assert(hx(o40) == "d456ebd3ad46451e07b273a70b6c5212a3b766d72a79cc4cf3978e7c9d0740a8")
    val k40 = Pdf.fileKey(Pdf.padPwd(none), o40, -3904, id40, 2, 5, encryptMetadata = true)
    assert(hx(k40) == "6817d611d0")
    assert(hx(Pdf.userValue(k40, id40, 2))
      == "32d9ef3881f91286c1dfe0b6796f93553e4d539f2c1d6be78f2fe7ce247d660f")
    assert(hx(Pdf.objectKey(k40, 6, 0, aes = false)) == "9314a1ac60ee1c22b886")
    // rc4-128: V2/R3, n=16 — exercises both 50×-rehash forms
    val id128 = Pdf.md5("graft-fixture-rc4-128".getBytes("US-ASCII"))
    val o128 = Pdf.ownerValue(owner, none, 3, 16)
    assert(hx(o128) == "f263bbc03bbab24dea388f935b7a99881b57c1a700175c97e781979fec3a8c42")
    val k128 = Pdf.fileKey(Pdf.padPwd(none), o128, -3904, id128, 3, 16, encryptMetadata = true)
    assert(hx(k128) == "4a6951997e8cbab29d49ceb52961288a")
    assert(hx(Pdf.userValue(k128, id128, 3).take(16))
      == "725077307ee4d4a27da0b71b2faf5dcb")
    assert(hx(Pdf.objectKey(k128, 6, 0, aes = false))
      == "8f7ec8ada868dd2b8235efab322765fd")
    // aesv2: V4/R4 — the sAlT suffix in the object key
    val idAes = Pdf.md5("graft-fixture-aesv2".getBytes("US-ASCII"))
    val kAes = Pdf.fileKey(Pdf.padPwd(none),
      Pdf.ownerValue(owner, none, 4, 16), -3904, idAes, 4, 16, encryptMetadata = true)
    assert(hx(kAes) == "00db7baa1138bbd0d6bd8a5467524b87")
    assert(hx(Pdf.userValue(kAes, idAes, 4).take(16))
      == "89a598445af636f994a6285427eef673")
    assert(hx(Pdf.objectKey(kAes, 6, 0, aes = true))
      == "1af9103089775e5ef3e77077e4179288")
  }

  test("AES-256 R6 hash and key-wrap match independently computed vectors") {
    def hx(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString
    // Algorithm 2.B vectors computed with python hashlib + the pyca
    // `cryptography` AES (the pdf.js/mupdf loop reading: ≥64 rounds,
    // then until E's last byte ≤ rounds−32, bytes unsigned); an
    // off-by-one in the termination clause or a signed-byte compare
    // cannot reproduce these
    val none = Array.emptyByteArray
    assert(hx(Pdf.hash2B(none, Array.tabulate(8)(_.toByte), none))
      == "1403c04eb647d2e60452dfc4eb0a5e0cf322e8a83a759eabbd17d498a93ba041")
    assert(hx(Pdf.hash2B("owner".getBytes("US-ASCII"),
        Array.tabulate(8)(i => (0xA0 + i).toByte),
        Array.tabulate(48)(_.toByte)))
      == "ce0b3aa789e326bcf8e22c1e9381c73607f3252ed8eb2abe91e4370edeb14cbb")
    // the exact /U, /UE, /O, /OE, /Perms bytes writePdfEncrypted emits
    // for "aesv3" (empty user password, owner "graft-owner"),
    // recomputed independently — writer/reader symmetry cannot hide a
    // derivation bug behind these
    val fk = Pdf.writePdfEncrypted(Seq(Seq("x")), "aesv3")
    val raw = new String(fk, java.nio.charset.StandardCharsets.ISO_8859_1)
    def hexVal(key: String): String = {
      val at = raw.indexOf(key + " <") + key.length + 2
      raw.substring(at, raw.indexOf('>', at)).toLowerCase
    }
    assert(hexVal("/U") ==
      "46a213f93155a5668fd2d36667229636301262cce27ea8ef152ce11b9abc8d72" +
      "04b78a7985bab2a492be88071bdee6de")
    assert(hexVal("/UE") ==
      "107a4f13738ec6651f75074315d7bebb58113ee865b1b491cdab7eb604983168")
    assert(hexVal("/O") ==
      "986c9d0c4a8875ebf88c7bacae7653fcd575f8d97b80d049fa79c17a3e1ac6b4" +
      "99415f0b9a2ae6d78d2cc35e70deca85")
    assert(hexVal("/OE") ==
      "a82f7a2fff045eea82b59528590692a3272825d5adaf71dcd7045cd50d852624")
    assert(hexVal("/Perms") == "d89827ff42dbb1fcbdf040c93d396bd9")
    // unwrap inverts wrap (the /UE path the reader takes)
    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest("graft-filekey-aesv3".getBytes("US-ASCII"))
    val inter = Pdf.hash2B(none,
      Pdf.md5("uks".getBytes("US-ASCII")).take(8), none)
    assert(hx(Pdf.unwrapKey256(inter, Pdf.wrapKey256(inter, key))) == hx(key))
  }

  test("AES-256 R6 and R5 files (empty user password) decrypt; wrong /U fails loudly") {
    val pages = Seq(Seq("terenkripsi AES-256", "baris dua"), Seq("halaman 2"))
    val bytes = Pdf.writePdfEncrypted(pages, "aesv3")
    val raw = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(!raw.contains("terenkripsi"), "aesv3 left plaintext in the file")
    assert(raw.contains("/AESV3") && raw.contains("/V 5 /R 6"))
    val want = for {
      (lines, pi) <- pages.zipWithIndex
      (text, li) <- lines.zipWithIndex
    } yield ((pi + 1).toLong, li.toLong, text)
    assert(Pdf.parsePdf(bytes) == want)
    // a flipped /U hash byte = a real user password: loud fail, with
    // the password diagnosis, not a corrupt-PDF one
    val uAt = raw.indexOf("/U <") + 4
    val flipped = raw.substring(0, uAt) +
      (if (raw.charAt(uAt) == '0') '1' else '0') + raw.substring(uAt + 1)
    val e = intercept[IllegalArgumentException] {
      Pdf.parsePdf(flipped.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    }
    assert(e.getMessage.contains("password-protected"))
    // R5 (the withdrawn Acrobat 9 scheme): single SHA-256, no rounds.
    // Rewrite the dict in place — same length, so xref offsets hold —
    // with /U recomputed for the R5 hash of the same salts
    val vs = Pdf.md5("uvs".getBytes("US-ASCII")).take(8)
    val ks = Pdf.md5("uks".getBytes("US-ASCII")).take(8)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    sha.update(vs)
    val r5hash = sha.digest()
    def hx(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02X").mkString
    val oldU = raw.substring(raw.indexOf("/U <") + 4, raw.indexOf('>', raw.indexOf("/U <")))
    val newU = hx(r5hash ++ vs ++ ks)
    assert(oldU.length == newU.length)
    // /UE must wrap the same file key under the R5 intermediate
    val sha2 = java.security.MessageDigest.getInstance("SHA-256")
    sha2.update(ks)
    val fileKey = java.security.MessageDigest.getInstance("SHA-256")
      .digest("graft-filekey-aesv3".getBytes("US-ASCII"))
    val newUE = hx(Pdf.wrapKey256(sha2.digest(), fileKey))
    val oldUE = raw.substring(raw.indexOf("/UE <") + 5, raw.indexOf('>', raw.indexOf("/UE <")))
    val r5raw = raw.replace("/V 5 /R 6", "/V 5 /R 5")
      .replace(oldU, newU).replace(oldUE, newUE)
    assert(Pdf.parsePdf(
      r5raw.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)) == want)
  }

  test("encrypted PDFs (empty user password) round-trip through all three methods") {
    Seq("rc4-40", "rc4-128", "aesv2").foreach { method =>
      val pages = Seq(Seq("baris satu (a)", "baris dua"), Seq("halaman 2"))
      val bytes = Pdf.writePdfEncrypted(pages, method)
      // the text must NOT be readable in the stored bytes
      val raw = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      assert(!raw.contains("baris satu"), s"$method left plaintext in the file")
      assert(raw.contains("/Encrypt"))
      val want = for {
        (lines, pi) <- pages.zipWithIndex
        (text, li) <- lines.zipWithIndex
      } yield ((pi + 1).toLong, li.toLong, text)
      assert(Pdf.parsePdf(bytes) == want, s"method $method")
    }
  }

  test("caller-supplied passwords open real-password files: user AND owner, all methods") {
    val pages = Seq(Seq("dokumen rahasia", "baris dua"), Seq("halaman 2"))
    val want = for {
      (lines, pi) <- pages.zipWithIndex
      (text, li) <- lines.zipWithIndex
    } yield ((pi + 1).toLong, li.toLong, text)
    Seq("rc4-40", "rc4-128", "aesv2", "aesv3").foreach { method =>
      val bytes = Pdf.writePdfEncrypted(pages, method, userPassword = "s3cret!")
      // no password: loud fail naming the password, not a corrupt-PDF error
      val e0 = intercept[IllegalArgumentException] { Pdf.parsePdf(bytes) }
      assert(e0.getMessage.contains("password-protected"), s"$method: $e0")
      // wrong password: loud fail saying the password didn't match
      val e1 = intercept[IllegalArgumentException] {
        Pdf.parsePdf(bytes, Some("wrong-password"))
      }
      assert(e1.getMessage.contains("matches neither"), s"$method: $e1")
      // the USER password opens the file
      assert(Pdf.parsePdf(bytes, Some("s3cret!")) == want, s"$method user pwd")
      // the OWNER password opens it too (Algorithm 7 / 12 recovery)
      assert(Pdf.parsePdf(bytes, Some("graft-owner")) == want,
        s"$method owner pwd")
      // positioned reads take the same argument
      assert(Pdf.parsePdfPositioned(bytes, Some("s3cret!")).map(_._5) ==
        want.map(_._3), s"$method positioned")
    }
    // empty-user-password files keep opening with NO password (the
    // default path is unchanged), and their owner password also works
    Seq("rc4-128", "aesv3").foreach { method =>
      val open = Pdf.writePdfEncrypted(pages, method)
      assert(Pdf.parsePdf(open) == want, s"$method empty-user")
      assert(Pdf.parsePdf(open, Some("graft-owner")) == want,
        s"$method owner on empty-user file")
    }
  }

  test("walkPaths: path ops, CTM nesting, thin fills, discards, and text immunity") {
    def segs(c: String) = Pdf.walkPaths(c).toSet
    // m/l stroke
    assert(segs("10 20 m 110 20 l S") === Set((10.0, 20.0, 110.0, 20.0)))
    // re stroke = 4 edges
    assert(segs("10 20 100 50 re S").size === 4)
    // h closes the subpath; the closing diagonal is dropped (non-axis),
    // while an axis-aligned close contributes its edge
    assert(segs("0 0 m 10 0 l 10 10 l h S").size === 2,
      "triangle: two axis edges kept, closing diagonal dropped")
    assert(segs("0 0 m 10 0 l 10 10 l 0 10 l h S").size === 4,
      "rectangle via h: the close supplies the fourth edge")
    // close-and-stroke (s) implies h
    assert(segs("0 0 m 10 0 l 10 10 l 0 10 l s").size === 4)
    // unpainted path emits nothing; n discards
    assert(segs("10 20 m 110 20 l") === Set.empty)
    assert(segs("10 20 m 110 20 l n 5 5 m 9 5 l S") ===
      Set((5.0, 5.0, 9.0, 5.0)))
    // fill emits ONLY thin bars (centerline), never area fills
    assert(segs("10 20 100 1 re f") === Set((10.0, 20.5, 110.0, 20.5)))
    assert(segs("10 20 100 50 re f") === Set.empty)
    // CTM translation via cm inside q/Q, restored after Q
    assert(segs("q 1 0 0 1 100 200 cm 10 20 m 110 20 l S Q 0 0 m 5 0 l S") ===
      Set((110.0, 220.0, 210.0, 220.0), (0.0, 0.0, 5.0, 0.0)))
    // CTM scale applies; a rotating CTM makes segments non-axis → dropped
    assert(segs("q 2 0 0 3 0 0 cm 10 20 m 110 20 l S Q") ===
      Set((20.0, 60.0, 220.0, 60.0)))
    assert(segs("q 0.7 0.7 -0.7 0.7 0 0 cm 10 20 m 110 20 l S Q") ===
      Set.empty)
    // text blocks and TJ kern arrays cannot leak operands into paths;
    // a string containing path-looking text is skipped whole
    assert(segs("BT /F1 9 Tf 50 60 Td [(a) -250 (b)] TJ ET 5 5 m 9 5 l S") ===
      Set((5.0, 5.0, 9.0, 5.0)))
    assert(segs("BT (10 20 m 99 20 l S) Tj ET") === Set.empty)
    // curves are not rulings; their operands clear at the op
    assert(segs("0 0 m 10 0 10 10 20 10 c S") === Set.empty)
    // inline images (BI..ID..EI): raw sample bytes are NOT tokens — a
    // '(' byte must not swallow the stream via the literal-string
    // skipper, and path-looking bytes must not fabricate rulings
    assert(segs("BI /W 2 /H 2 /BPC 8 /CS /G ID ( ÿ 9 9 m 5 9 l S EI 5 5 m 9 5 l S") ===
      Set((5.0, 5.0, 9.0, 5.0)),
      "bytes after ID must be skipped whole, tokenizing resumes after EI")
    // an unterminated inline image degrades to end-of-stream, not a hang
    assert(segs("5 5 m 9 5 l S BI /W 1 ID (((") === Set((5.0, 5.0, 9.0, 5.0)))
  }

  test("tableAuto: lattice grids on ruled pages, stream rows on unruled ones") {
    import spark.implicits._
    val dir = graft.util.Scratch.dir("pdf_lattice_spec")
    graft.util.Scratch.deleteRecursively(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dir, "t.pdf").toPath,
      Pdf.writePdfRuled(graft.queries.Media.pdfLatticeFixture))
    val got = Pdf.tableAuto(spark, dir)
      .select($"page", $"row_idx", $"col_idx", $"value")
      .as[(Long, Long, Long, String)].collect().toSet
    val want = graft.queries.Media.pdfLatticeExpected(spark)
      .select($"page", $"row_idx", $"col_idx", $"value")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got === want)
    // the multi-token cell concatenates left-to-right
    assert(got.contains((1L, 2L, 1L, "Kas bersih")))
    // rulings surface through the public reader too, rotated-space like text
    val nRulings = Pdf.readRulings(spark, dir).count()
    assert(nRulings >= 14L, s"expected the fixture's rulings, got $nRulings")
  }

  test("embedded-font recovery: TTF cmap, Type1 builtin, Identity-H CID round-trip") {
    import spark.implicits._
    val dir = graft.util.Scratch.dir("pdf_fontprog_spec")
    graft.util.Scratch.deleteRecursively(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dir, "f.pdf").toPath,
      Pdf.writePdfFontProg(graft.queries.Media.pdfFontProgFixture))
    val got = Pdf.read(spark, dir)
      .select($"page", $"line_no", $"text").as[(Long, Long, String)]
      .collect().sortBy(_._2).map(_._3).toSeq
    assert(got === graft.queries.Media.pdfFontProgFixture.map(_._2),
      "all three font shapes must decode through their embedded programs")
  }

  test("ttfCmaps: format 4 idRangeOffset path, format 6, bounds, loud corrupt fail") {
    // hand-rolled format 4 with ONE glyphIdArray-mapped segment
    // (idRangeOffset != 0): codes 0x41..0x43 -> gids 7, 9, 11
    def u16(v: Int) = Seq((v >> 8) & 0xff, v & 0xff)
    val seg = Seq( // two segments: [41..43], terminal FFFF
      u16(0x43), u16(0xFFFF), // endCodes
      u16(0), // pad
      u16(0x41), u16(0xFFFF), // startCodes
      u16(0), u16(1), // idDelta
      // idRangeOffset[0] points past idRangeOffset[1] into glyphIds:
      // slot 0 is at byte 0 of the array; glyphIds begin 4 bytes later
      u16(4), u16(0),
      u16(7), u16(9), u16(11)).flatten
    val sub = (u16(4) ++ u16(16 + 8 * 2 + 6) ++ u16(0) ++ u16(4) ++
      u16(4) ++ u16(1) ++ u16(0)).toSeq ++ seg
    val font = (
      u16(1) ++ u16(0) ++ // version 1.0 hi
      u16(1) ++ u16(16) ++ u16(0) ++ u16(0) ++ // numTables etc.
      "cmap".getBytes("US-ASCII").toSeq.map(_.toInt) ++
      u16(0) ++ u16(0) ++ // checksum
      u16(0) ++ u16(28) ++ // offset 28
      u16(0) ++ u16(sub.size + 12) ++ // length
      // cmap header: version 0, 1 subtable, (3,1) at offset 12
      u16(0) ++ u16(1) ++ u16(3) ++ u16(1) ++ u16(0) ++ u16(12)
    ) ++ sub
    val bytes = font.map(_.toByte).toArray
    val maps = Pdf.ttfCmaps(bytes)
    assert(maps((3, 1)) === Map(0x41 -> 7, 0x42 -> 9, 0x43 -> 11))
    // corrupt: a subtable offset out of range fails loudly, by name
    val cut = bytes.take(40)
    val e = intercept[IllegalArgumentException] { Pdf.ttfCmaps(cut) }
    assert(e.getMessage.contains("corrupt"))
    // a program with no cmap at all fails by name
    val e2 = intercept[IllegalArgumentException] {
      Pdf.ttfCmaps(Array[Byte](0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    }
    assert(e2.getMessage.contains("no cmap"))
    // ttfDec: unicode subtable present but no code subtable -> simple
    // font unmappable (None); CID mode still decodes (codes = gids)
    assert(Pdf.ttfDec(bytes, twoByteCids = false).isEmpty)
    val cid = Pdf.ttfDec(bytes, twoByteCids = true).get
    assert(cid.decode("\u0000\u0007") === "A") // gid 7 (2-byte code) -> U+0041
  }

  test("type1BuiltinDec: dup/put entries, StandardEncoding, and no-encoding programs") {
    val prog = Pdf.writeType1Program(Seq(65 -> "uni004B", 66 -> "eacute"))
    val dec = Pdf.type1BuiltinDec(prog).get
    assert(dec.decode("AB") === "Ké")
    val std = Pdf.type1BuiltinDec(
      ("%!PS\n/Encoding StandardEncoding def\neexec\n").getBytes("ISO-8859-1")).get
    assert(std.decode("abc") === "abc")
    // the copy-then-override idiom: StandardEncoding seeded, dup/put
    // entries win ON TOP of it — decoding as pure StandardEncoding
    // would silently drop the overrides (r15 advice fix)
    val over = Pdf.type1BuiltinDec(
      ("%!PS\n/Encoding StandardEncoding readonly def\n" +
        "dup 97 /eacute put\ndup 98 /uni004B put\neexec\n")
        .getBytes("ISO-8859-1")).get
    assert(over.decode("abc") === "éKc",
      "overridden slots must apply over the standard base")
    assert(Pdf.type1BuiltinDec("%!PS no encoding here eexec".getBytes("ISO-8859-1")).isEmpty)
  }

  test("tableAuto parses each file exactly ONCE (xref + decrypt + inflate)") {
    import spark.implicits._
    val dir = graft.util.Scratch.dir("pdf_oneparse_spec")
    graft.util.Scratch.deleteRecursively(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    // two files: one ruled + unruled mix, one plain-text — both table
    // routes exercised in the same action
    java.nio.file.Files.write(
      new java.io.File(dir, "a.pdf").toPath,
      Pdf.writePdfRuled(graft.queries.Media.pdfLatticeFixture))
    java.nio.file.Files.write(
      new java.io.File(dir, "b.pdf").toPath,
      Pdf.writePdf(Seq(Seq("halaman polos", "dua baris"))))
    val auto = Pdf.tableAuto(spark, dir)
    val before = Pdf.docParses.get()
    // ONE executed file scan in the whole multi-consumer plan: the
    // lattice branch, the ruled-pages anti-join, and the stream
    // fallback all reuse the per-page rollup exchange
    assert(graft.util.PlanMetrics.distinctFileScans(auto) === 1,
      "lattice + fallback must share one binaryFile scan")
    val parses = Pdf.docParses.get() - before
    assert(parses === 2L,
      s"tableAuto over 2 files must parse exactly 2 times, measured $parses")
    // and the cells are still right (content unchanged by the rewiring)
    assert(auto.filter($"file" === "b.pdf").count() === 2L)
    // tableLattice alone: also a single parse per file
    val before2 = Pdf.docParses.get()
    Pdf.tableLattice(spark, dir).collect()
    assert(Pdf.docParses.get() - before2 === 2L,
      "tableLattice must not parse rulings and tokens separately")
  }

  test("lattice tolerance: double-drawn rules at sub-point offsets collapse to one cut") {
    import spark.implicits._
    // a 2×2 grid whose every rule is drawn TWICE, offset by 0.4pt —
    // the stroke-over-fill shape real generators emit. Without the
    // 2pt cut clustering each rule splits into two cuts and every
    // row/column gains a sliver cell.
    def grid(d: Double): String = {
      val ys = Seq(700.0, 680.0, 660.0)
      val xs = Seq(72.0, 172.0, 272.0)
      (ys.map(y => s"72 ${y + d} m 272 ${y + d} l S") ++
        xs.map(x => s"${x + d} 700 m ${x + d} 660 l S")).mkString("\n")
    }
    val text = Seq((1, 1, 80.0, 690.0, "a"), (1, 2, 180.0, 690.0, "b"),
      (2, 1, 80.0, 670.0, "c"), (2, 2, 180.0, 670.0, "d"))
      .map { case (_, _, x, y, t) => s"BT /F1 9 Tf $x $y Td ($t) Tj ET" }
      .mkString("\n")
    val content = grid(0.0) + "\n" + grid(0.4) + "\n" + text
    val dir = graft.util.Scratch.dir("pdf_lattice_tol")
    graft.util.Scratch.deleteRecursively(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, "t.pdf").toPath,
      rawPdf(content))
    val got = Pdf.tableLattice(spark, dir)
      .select($"row_idx", $"col_idx", $"value")
      .as[(Long, Long, String)].collect().toSet
    assert(got === Set((1L, 1L, "a"), (1L, 2L, "b"),
      (2L, 1L, "c"), (2L, 2L, "d")),
      s"double-drawn rules must not split the grid: $got")
  }

  /** Minimal single-page PDF around a raw content stream (the shape
    * assemblePdf builds, inlined here for a custom-ops fixture). */
  private def rawPdf(content: String): Array[Byte] = {
    val stream = content
    val body = new StringBuilder
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    body.append("%PDF-1.4\n")
    def obj(num: Int, c: String): Unit = {
      offsets += body.length
      body.append(s"$num 0 obj\n$c\nendobj\n")
    }
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 << /Type /Font /Subtype /Type1 " +
      "/BaseFont /Helvetica >> >> >> /Contents 4 0 R >>")
    offsets += body.length
    body.append(s"4 0 obj\n<< /Length ${stream.length} >>\nstream\n")
    body.append(stream)
    body.append("\nendstream\nendobj\n")
    val xrefAt = body.length
    body.append(s"xref\n0 5\n0000000000 65535 f \n")
    offsets.foreach(o => body.append(f"$o%010d 00000 n \n"))
    body.append(s"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF")
    body.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  test("a REAL user password still fails loudly, with the real reason") {
    val bytes = Pdf.writePdfEncrypted(Seq(Seq("rahasia")), "rc4-128")
    // corrupt one byte inside the /U hex value: verification of the
    // empty user password must now fail — exactly what a file whose
    // user password is non-empty looks like to Algorithm 6
    val raw = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val uAt = raw.indexOf("/U <") + 4
    val flipped = raw.substring(0, uAt) +
      (if (raw.charAt(uAt) == '0') '1' else '0') + raw.substring(uAt + 1)
    val e = intercept[IllegalArgumentException] {
      Pdf.parsePdf(flipped.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    }
    assert(e.getMessage.contains("password-protected"))
    assert(!e.getMessage.startsWith("corrupt PDF"))
    // and an unsupported handler names itself (same-length name so the
    // classic xref offsets stay valid)
    val pub = raw.replace("/Filter /Standard", "/Filter /PubSecXY")
    val e2 = intercept[IllegalArgumentException] {
      Pdf.parsePdf(pub.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    }
    assert(e2.getMessage.contains("unsupported"))
  }

  test("/Rotate maps positioned text into displayed coordinates; plain text is unchanged") {
    val cells = Seq((100, 500, "r-cell"), (72, 80, "low"))
    Seq(90, 180, 270).foreach { r =>
      val bytes = Pdf.writePdfPositioned(Seq(cells), Seq(r))
      assert(new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
        .contains(s"/Rotate $r"), s"rotate $r written")
      // the writer inverts displayXY, so the parser's displayed-space
      // output must equal the authored display coordinates exactly
      assert(Pdf.parsePdfPositioned(bytes).map(t => (t._3, t._4, t._5))
        == cells.map { case (x, y, t) => (x.toDouble, y.toDouble, t) },
        s"rotate $r round-trip")
      // plain text reads identically: rotation never reorders the stream
      assert(Pdf.parsePdf(bytes).map(_._3) == Seq("r-cell", "low"))
    }
    // hand-checked anchor, independent of the writer's inverse: a page
    // whose stored origin is (12, 72) with /Rotate 90 displays at
    // (72, 600) on US-Letter — the §7.7.3.3 clockwise convention
    assert(Pdf.parsePdfPositioned(rawPdf("BT 12 72 Td (anchor) Tj ET",
      pageExtra = "/Rotate 90 /MediaBox [0 0 612 792] "))
      == Seq((1L, 0L, 72.0, 600.0, "anchor")))
    // /Rotate inherits from an ancestor /Pages node like /Resources
    assert(Pdf.parsePdfPositioned(rawPdf("BT 12 72 Td (kid) Tj ET",
      pagesExtra = "/Rotate 90 /MediaBox [0 0 612 792] "))
      == Seq((1L, 0L, 72.0, 600.0, "kid")))
  }

  test("mixed-width CMaps frame 1-byte and 2-byte codes in the same string") {
    val pages = Seq(Seq("Ekuitas — €500", "plain ascii"), Seq("éﬁ «x»"))
    val bytes = Pdf.writePdfCidMixed(pages)
    val want = for {
      (lines, pi) <- pages.zipWithIndex
      (text, li) <- lines.zipWithIndex
    } yield ((pi + 1).toLong, li.toLong, text)
    assert(Pdf.parsePdf(bytes) == want)
    // direct framing law on the parsed-CMap level: an ASCII byte and a
    // 2-byte code interleave, and a byte below the 2-byte range's
    // second-byte floor never gets swallowed as a code tail
    val cm = Pdf.parseCMap(
      """2 begincodespacerange
        |<20> <7E>
        |<8140> <FFFC>
        |endcodespacerange
        |1 beginbfrange
        |<20> <7E> <0020>
        |endbfrange
        |1 beginbfchar
        |<8140> <20AC>
        |endbfchar""".stripMargin)
    assert(cm.decode("A@B") == "A€B")
  }

  test("the classic-xref assembler rejects objects emitted out of number order") {
    val skip = new Pdf.ClassicPdf
    skip.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    val e = intercept[IllegalArgumentException](skip.obj(3, "<< >>"))
    assert(e.getMessage.contains("object 3 emitted out of order"))
    val back = new Pdf.ClassicPdf
    back.obj(1, "<< >>")
    back.obj(2, "<< >>")
    intercept[IllegalArgumentException](back.stream(2, Array[Byte](1))(n => s"<< /Length $n >>"))
    intercept[IllegalArgumentException](new Pdf.ClassicPdf().flate(2, Array[Byte](1)))
    // in order, the xref's entries are the objects' byte offsets
    val ok = new Pdf.ClassicPdf
    ok.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    ok.obj(2, "<< /Type /Pages /Kids [] /Count 0 >>")
    val raw = new String(ok.finish(), java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(raw.contains(f"${raw.indexOf("2 0 obj")}%010d 00000 n \n"))
    assert(raw.contains("trailer\n<< /Size 3 /Root 1 0 R >>"))
  }

  /** Minimal single-page classic PDF around a raw content stream —
    * independent of both writers' operator choices. `pageExtra` /
    * `pagesExtra` splice attributes into the page / root-pages dicts
    * BEFORE offsets are computed (post-hoc string replacement would
    * shift every xref offset). */
  private def rawPdf(content: String, pageExtra: String = "",
      pagesExtra: String = ""): Array[Byte] = {
    val s = new StringBuilder
    val offs = scala.collection.mutable.ArrayBuffer[Int]()
    s.append("%PDF-1.4\n")
    def obj(n: Int, body: String): Unit = {
      offs += s.length; s.append(s"$n 0 obj\n$body\nendobj\n")
    }
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, s"<< /Type /Pages /Kids [3 0 R] /Count 1 $pagesExtra>>")
    obj(3, s"<< /Type /Page /Parent 2 0 R $pageExtra/Contents 4 0 R >>")
    offs += s.length
    s.append(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n")
      .append(content).append("\nendstream\nendobj\n")
    val xref = s.length
    s.append("xref\n0 5\n0000000000 65535 f \n")
    offs.foreach(o => s.append(f"$o%010d 00000 n \n"))
    s.append(s"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    s.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }
}
