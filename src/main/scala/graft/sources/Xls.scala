package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Legacy `.xls` (BIFF8) source — the reference reads both Excel
  * generations transparently (`pd.read_excel`, mainTesting.py:456-458),
  * and pre-2008 filings still ship the binary format; [[Xlsx]] alone
  * (OOXML) would fail them. This closes that gap with a JDK-only
  * binary connector for the two layers the format stacks:
  *
  *   - **CFB / OLE2 compound file** (MS-CFB): the outer container — a
  *     FAT of 512-byte sectors, a directory of UTF-16 entries, and a
  *     MINI-FAT of 64-byte sectors inside the root entry's stream for
  *     streams under 4,096 bytes. Both placements are read (and both
  *     exercised by the fixtures: a small workbook rides the mini
  *     stream, a large one the regular FAT).
  *   - **BIFF8 record stream** (MS-XLS): the `Workbook` stream —
  *     (id, length, payload) records. The workbook-globals substream
  *     supplies the SST (shared strings, with CONTINUE-record
  *     stitching: a string split across records restarts with a fresh
  *     flags byte mid-string, §2.5.293), BOUNDSHEET offsets, XF →
  *     number-format bindings, custom FORMAT codes, and DATEMODE
  *     (the 1904 flag). Each sheet substream supplies the cells:
  *     LABELSST, NUMBER, RK / MULRK (the compressed numeric forms),
  *     FORMULA cached values (+ STRING for string results), BOOLERR,
  *     and MERGEDCELLS regions (anchor-filled, same rule as [[Xlsx]]).
  *
  * Date-styled serials render as ISO text through the SAME
  * [[Xlsx.serialToIso]] (1900 phantom-day quirk, 1904 system), and the
  * date-format detection mirrors Xlsx's styles.xml rule: built-in ids
  * 14-22/27-36/45-47 or a custom code carrying y/d/h tokens. Cells
  * surface in the SAME long shape as [[Xlsx.Cell]], so every S1-S3
  * operator runs over either generation unchanged. BIFF5/7 (`Book`
  * stream) fails loudly by name — a pre-97 file is a different format,
  * not a silent misread.
  */
object Xls {

  /** Read every top-level .xls under `dir` into the long cell shape (the
    * same [[Xlsx.Cell]] rows, so downstream operators are format-blind). */
  def read(spark: SparkSession, dir: String): Dataset[Xlsx.Cell] = {
    import spark.implicits._
    Sources.perFile(spark, dir, Seq("xls"))(Xlsx.cellsOf(parseWorkbook))
  }

  /** Reference `cari_sheet_excel` over the binary generation: first
    * sheet (file order, then declared order) containing `keyword`. */
  def discoverSheet(spark: SparkSession, dir: String, keyword: String): DataFrame =
    Xlsx.firstSheetWith(read(spark, dir), keyword)

  // ---- parser (executor-side, JDK-only) -----------------------------

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"corrupt XLS: $msg")

  /** Parse one workbook payload to (sheetName, sheetIdx, row, col,
    * value) cells — 1-based row/col, declared sheet order, merged
    * regions anchor-filled (the [[Xlsx.parseWorkbook]] contract). */
  def parseWorkbook(bytes: Array[Byte]): Seq[(String, Long, Long, Long, String)] = {
    val streams = cfbStreams(bytes)
    val wb = streams.getOrElse("Workbook",
      streams.getOrElse("WORKBOOK",
        if (streams.contains("Book"))
          fail("BIFF5/7 'Book' stream (pre-97 Excel) is unsupported — " +
            "only BIFF8 'Workbook'")
        else fail(s"no Workbook stream (found: ${streams.keys.mkString(", ")})")))
    parseBiff(wb)
  }

  // ---- CFB / OLE2 container (MS-CFB) ---------------------------------

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], off: Int): Long =
    (u16(b, off).toLong) | (u16(b, off + 2).toLong << 16)

  private val EndOfChain = 0xFFFFFFFEL
  private val FreeSect = 0xFFFFFFFFL

  /** Top-level streams of a compound file: name → bytes. Reads the
    * DIFAT (header + chained sectors), the FAT, the directory, and the
    * mini FAT; a stream under the mini cutoff is materialized from
    * 64-byte mini sectors inside the root entry's stream. */
  private[graft] def cfbStreams(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    if (bytes.length < 512 ||
        u32(bytes, 0) != 0xE011CFD0L || u32(bytes, 4) != 0xE11AB1A1L)
      fail("not a compound file (missing D0CF11E0 magic)")
    val sectorShift = u16(bytes, 30)
    if (sectorShift != 9 && sectorShift != 12)
      fail(s"sector shift $sectorShift (only 512/4096-byte sectors)")
    val sectorSize = 1 << sectorShift
    val miniShift = u16(bytes, 32)
    val miniSize = 1 << miniShift
    val numFat = u32(bytes, 44).toInt
    val dirStart = u32(bytes, 48)
    val miniCutoff = u32(bytes, 56)
    val miniFatStart = u32(bytes, 60)
    val difatStart = u32(bytes, 68)
    val numDifat = u32(bytes, 72).toInt
    def sector(id: Long): Array[Byte] = {
      val off = ((id + 1) * sectorSize).toInt // header occupies sector -1
      if (off + sectorSize > bytes.length)
        // a truncated trailing sector still serves its prefix
        java.util.Arrays.copyOfRange(bytes, off, bytes.length)
      else java.util.Arrays.copyOfRange(bytes, off, off + sectorSize)
    }
    // DIFAT: 109 header entries + chained DIFAT sectors
    val fatSectors = Seq.newBuilder[Long]
    var taken = 0
    var i = 0
    while (i < 109 && taken < numFat) {
      val v = u32(bytes, 76 + 4 * i)
      if (v != FreeSect && v != EndOfChain) { fatSectors += v; taken += 1 }
      i += 1
    }
    var dsec = difatStart
    var dHops = 0
    while (dsec != EndOfChain && dsec != FreeSect && taken < numFat) {
      dHops += 1
      if (dHops > numDifat + 4) fail("DIFAT chain cycle")
      val s = sector(dsec)
      val per = sectorSize / 4 - 1
      var k = 0
      while (k < per && taken < numFat) {
        val v = u32(s, 4 * k)
        if (v != FreeSect && v != EndOfChain) { fatSectors += v; taken += 1 }
        k += 1
      }
      dsec = u32(s, sectorSize - 4)
    }
    val fat: IndexedSeq[Long] = fatSectors.result().toIndexedSeq
      .flatMap(fs => { val s = sector(fs); (0 until sectorSize / 4).map(k => u32(s, 4 * k)) })
    def chain(start: Long): Seq[Long] = {
      val out = Seq.newBuilder[Long]
      var cur = start
      var hops = 0
      while (cur != EndOfChain && cur != FreeSect && cur >= 0) {
        hops += 1
        if (hops > fat.length + 4) fail("FAT chain cycle")
        out += cur
        cur = if (cur < fat.length) fat(cur.toInt) else EndOfChain
      }
      out.result()
    }
    def readChain(start: Long, size: Long): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      chain(start).foreach(id => buf.write(sector(id)))
      val all = buf.toByteArray
      java.util.Arrays.copyOf(all, math.min(size, all.length.toLong).toInt)
    }
    // directory entries, 128 bytes each, over the directory chain
    val dirBytes = {
      val buf = new java.io.ByteArrayOutputStream()
      chain(dirStart).foreach(id => buf.write(sector(id)))
      buf.toByteArray
    }
    final case class Entry(name: String, objType: Int, start: Long, size: Long)
    val entries = (0 until dirBytes.length / 128).map { e =>
      val off = e * 128
      val nameLen = u16(dirBytes, off + 64) // bytes incl. terminator
      val name =
        if (nameLen < 2) ""
        else new String(dirBytes, off, nameLen - 2,
          java.nio.charset.StandardCharsets.UTF_16LE)
      Entry(name, dirBytes(off + 66) & 0xff,
        u32(dirBytes, off + 116), u32(dirBytes, off + 120))
    }
    val root = entries.find(_.objType == 5)
      .getOrElse(fail("no root directory entry"))
    // the MINI STREAM is the root entry's own chain; mini FAT maps it
    lazy val miniStream = readChain(root.start, root.size)
    lazy val miniFat: IndexedSeq[Long] = {
      val buf = new java.io.ByteArrayOutputStream()
      chain(miniFatStart).foreach(id => buf.write(sector(id)))
      val b = buf.toByteArray
      (0 until b.length / 4).map(k => u32(b, 4 * k))
    }
    def readMini(start: Long, size: Long): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      var cur = start
      var hops = 0
      while (cur != EndOfChain && cur != FreeSect && cur >= 0) {
        hops += 1
        if (hops > miniFat.length + 4) fail("mini-FAT chain cycle")
        val off = (cur * miniSize).toInt
        buf.write(java.util.Arrays.copyOfRange(miniStream, off,
          math.min(off + miniSize, miniStream.length)))
        cur = if (cur < miniFat.length) miniFat(cur.toInt) else EndOfChain
      }
      val all = buf.toByteArray
      java.util.Arrays.copyOf(all, math.min(size, all.length.toLong).toInt)
    }
    entries.filter(e => e.objType == 2 && e.name.nonEmpty).map { e =>
      e.name -> (if (e.size < miniCutoff) readMini(e.start, e.size)
                 else readChain(e.start, e.size))
    }.toMap
  }

  // ---- BIFF8 record stream (MS-XLS) ----------------------------------

  // record ids
  private val BOF = 0x809
  private val EOFr = 0x0A
  private val BOUNDSHEET = 0x85
  private val SST = 0xFC
  private val CONTINUE = 0x3C
  private val XFr = 0xE0
  private val FORMATr = 0x41E
  private val DATEMODE = 0x22
  private val LABELSST = 0xFD
  private val LABEL = 0x204
  private val NUMBER = 0x203
  private val RK = 0x27E
  private val MULRK = 0xBD
  private val FORMULA = 0x06
  private val STRINGr = 0x207
  private val BOOLERR = 0x205
  private val MERGEDCELLS = 0xE5

  private val BuiltinDateFmts: Set[Int] =
    ((14 to 22) ++ (27 to 36) ++ (45 to 47)).toSet

  private def fmtNum(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** RK-encoded number (§2.5.218): bit0 = ×1/100, bit1 = the top 30
    * bits are a signed int, else the high 32 bits of an IEEE double. */
  private[graft] def decodeRk(rk: Long): Double = {
    val base =
      if ((rk & 2L) != 0) (rk.toInt >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk & 0xFFFFFFFCL) << 32)
    if ((rk & 1L) != 0) base / 100.0 else base
  }

  /** Cursor over an SST record's payload chunks (the SST record plus
    * its CONTINUE records): reads scalars across chunk boundaries, and
    * re-reads the string FLAGS byte when character data resumes in a
    * new chunk mid-string (§2.5.293 — the width may change at the
    * break; ignoring this garbles every wide string a big workbook
    * splits). */
  private final class ChunkCursor(chunks: IndexedSeq[Array[Byte]]) {
    private var ci = 0
    private var pos = 0
    private def ensure(): Unit = {
      while (ci < chunks.length && pos >= chunks(ci).length) { ci += 1; pos = 0 }
    }
    def hasMore: Boolean = { ensure(); ci < chunks.length }
    def u8(): Int = {
      ensure()
      if (!hasMore) fail("SST truncated")
      val v = chunks(ci)(pos) & 0xff; pos += 1; v
    }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = u16().toLong | (u16().toLong << 16)
    def skip(n: Long): Unit = {
      var k = n
      while (k > 0) {
        ensure()
        if (!hasMore) fail("SST truncated (skip)")
        val take = math.min(k, (chunks(ci).length - pos).toLong).toInt
        pos += take; k -= take
      }
    }
    /** cch chars, starting at width `wide0`; a chunk break mid-string
      * re-reads the flags byte (width only — rich/ext flags belong to
      * the string header alone). */
    def chars(cch: Int, wide0: Boolean): String = {
      val sb = new java.lang.StringBuilder(cch)
      var left = cch
      var wide = wide0
      while (left > 0) {
        ensure()
        if (!hasMore) fail("SST truncated (chars)")
        // character data beginning at offset 0 of a continuation chunk
        // is ALWAYS preceded by a fresh flags byte (§2.5.293) — even on
        // the first iteration, i.e. when the record boundary fell
        // exactly between the string's header and its first character.
        // (chars can only start at pos 0 of chunk 0 if there were no
        // header bytes before them, which string() makes impossible.)
        if (pos == 0 && ci > 0) wide = (u8() & 1) == 1
        val avail = chunks(ci).length - pos
        val width = if (wide) 2 else 1
        val take = math.min(left, avail / width)
        if (take == 0) {
          if (avail > 0) fail("SST wide char split across CONTINUE")
          // avail == 0: loop re-ensures into the next chunk
        } else {
          val b = chunks(ci)
          var k = 0
          while (k < take) {
            val ch =
              if (wide) (b(pos) & 0xff | ((b(pos + 1) & 0xff) << 8)).toChar
              else (b(pos) & 0xff).toChar
            sb.append(ch)
            pos += width; k += 1
          }
          left -= take
        }
      }
      sb.toString
    }
    /** One XLUnicodeRichExtendedString at the cursor. */
    def string(): String = {
      val cch = u16()
      val grbit = u8()
      val wide = (grbit & 1) == 1
      val rich = (grbit & 8) != 0
      val ext = (grbit & 4) != 0
      val cRun = if (rich) u16() else 0
      val cbExt = if (ext) u32() else 0L
      val s = chars(cch, wide)
      skip(cRun.toLong * 4)
      skip(cbExt)
      s
    }
  }

  /** One BIFF8 unicode string INSIDE a single record payload (no
    * CONTINUE). `short` = 8-bit length (BOUNDSHEET names). */
  private def inlineString(b: Array[Byte], off: Int, short: Boolean): (String, Int) = {
    var p = off
    val cch = if (short) { val v = b(p) & 0xff; p += 1; v }
              else { val v = u16(b, p); p += 2; v }
    val grbit = b(p) & 0xff; p += 1
    val wide = (grbit & 1) == 1
    val rich = (grbit & 8) != 0
    val ext = (grbit & 4) != 0
    val cRun = if (rich) { val v = u16(b, p); p += 2; v } else 0
    val cbExt = if (ext) { val v = u32(b, p); p += 4; v } else 0L
    val sb = new java.lang.StringBuilder(cch)
    var k = 0
    while (k < cch) {
      val ch = if (wide) (b(p) & 0xff | ((b(p + 1) & 0xff) << 8)).toChar
               else (b(p) & 0xff).toChar
      sb.append(ch); p += (if (wide) 2 else 1); k += 1
    }
    p += cRun * 4 + cbExt.toInt
    (sb.toString, p - off)
  }

  private def parseBiff(wb: Array[Byte]): Seq[(String, Long, Long, Long, String)] = {
    // pass 1: workbook globals — records from offset 0 to the first EOF
    var pos = 0
    def rec(): Option[(Int, Array[Byte], Int)] = { // (id, payload, recStart)
      if (pos + 4 > wb.length) None
      else {
        val id = u16(wb, pos)
        val len = u16(wb, pos + 2)
        if (pos + 4 + len > wb.length) None
        else {
          val p = java.util.Arrays.copyOfRange(wb, pos + 4, pos + 4 + len)
          val start = pos
          pos += 4 + len
          Some((id, p, start))
        }
      }
    }
    val first = rec().getOrElse(fail("empty Workbook stream"))
    if (first._1 != BOF) fail(f"stream does not start with BOF (0x${first._1}%X)")
    val biffVersion = u16(first._2, 0)
    if (biffVersion != 0x600) fail(f"BIFF version 0x$biffVersion%X is " +
      "unsupported (only BIFF8, 0x0600)")
    var date1904 = false
    val bounds = Seq.newBuilder[(String, Int)] // (name, stream offset)
    val xfFmts = Seq.newBuilder[Int]
    val customFmt = scala.collection.mutable.Map[Int, String]()
    var sst: IndexedSeq[String] = IndexedSeq.empty
    var done = false
    while (!done) {
      rec() match {
        case None => done = true
        case Some((EOFr, _, _)) => done = true
        case Some((DATEMODE, p, _)) => date1904 = u16(p, 0) == 1
        case Some((BOUNDSHEET, p, _)) =>
          val off = u32(p, 0).toInt
          // name at +6 (u8 length, §2.4.28); hidden/type bytes at +4
          val (name, _) = inlineString(p, 6, short = true)
          bounds += ((name, off))
        case Some((XFr, p, _)) => xfFmts += u16(p, 2) // ifmt
        case Some((FORMATr, p, _)) =>
          val id = u16(p, 0)
          val (code, _) = inlineString(p, 2, short = false)
          customFmt(id) = code
        case Some((SST, p, start)) =>
          // gather this SST's CONTINUE chunks (they immediately follow)
          val chunks = IndexedSeq.newBuilder[Array[Byte]]
          chunks += p
          var more = true
          while (more) {
            val save = pos
            rec() match {
              case Some((CONTINUE, cp, _)) => chunks += cp
              case _ => pos = save; more = false
            }
          }
          val cur = new ChunkCursor(chunks.result())
          cur.u32() // cstTotal
          val unique = cur.u32()
          val out = IndexedSeq.newBuilder[String]
          var k = 0L
          while (k < unique) { out += cur.string(); k += 1 }
          sst = out.result()
        case Some(_) => ()
      }
    }
    // date detection mirrors Xlsx.parseDateStyles: builtin ids or a
    // custom code carrying y/d/h outside quotes/brackets
    val customDate = customFmt.collect {
      case (id, code) if {
        val bare = code.replaceAll("\"[^\"]*\"", "")
          .replaceAll("\\[[^\\]]*\\]", "").toLowerCase
        bare.exists(c => c == 'y' || c == 'd' || c == 'h')
      } => id
    }.toSet
    val xfs = xfFmts.result()
    def isDateXf(ixfe: Int): Boolean =
      xfs.lift(ixfe).exists(f => BuiltinDateFmts(f) || customDate(f))

    // pass 2: each sheet substream at its BOUNDSHEET offset
    bounds.result().zipWithIndex.flatMap { case ((sheetName, off), si) =>
      pos = off
      rec() match {
        case Some((BOF, _, _)) => ()
        case other => fail(s"sheet '$sheetName' offset $off: no BOF ($other)")
      }
      val cells = Seq.newBuilder[(Long, Long, String)]
      val merges = Seq.newBuilder[(Long, Long, Long, Long)]
      var pendingFormulaCell: Option[(Long, Long)] = None // awaiting STRING
      def put(r: Int, c: Int, v: String): Unit =
        cells += (((r + 1).toLong, (c + 1).toLong, v))
      def numVal(ixfe: Int, d: Double): String =
        if (isDateXf(ixfe)) Xlsx.serialToIso(d, date1904) else fmtNum(d)
      var sdone = false
      while (!sdone) {
        rec() match {
          case None => sdone = true
          case Some((EOFr, _, _)) => sdone = true
          case Some((LABELSST, p, _)) =>
            val idx = u32(p, 6).toInt
            put(u16(p, 0), u16(p, 2), sst.lift(idx).getOrElse(fail(
              s"LABELSST index $idx out of range (SST has ${sst.length} " +
                "strings) — corrupt or mis-stitched shared string table")))
          case Some((LABEL, p, _)) =>
            val (s, _) = inlineString(p, 6, short = false)
            put(u16(p, 0), u16(p, 2), s)
          case Some((NUMBER, p, _)) =>
            put(u16(p, 0), u16(p, 2), numVal(u16(p, 4),
              java.lang.Double.longBitsToDouble(
                u32(p, 6) | (u32(p, 10) << 32))))
          case Some((RK, p, _)) =>
            put(u16(p, 0), u16(p, 2), numVal(u16(p, 4), decodeRk(u32(p, 6))))
          case Some((MULRK, p, _)) =>
            val row = u16(p, 0)
            val colFirst = u16(p, 2)
            val n = (p.length - 6) / 6
            (0 until n).foreach { k =>
              val ixfe = u16(p, 4 + 6 * k)
              put(row, colFirst + k, numVal(ixfe, decodeRk(u32(p, 6 + 6 * k))))
            }
          case Some((FORMULA, p, _)) =>
            val (row, col, ixfe) = (u16(p, 0), u16(p, 2), u16(p, 4))
            if (u16(p, 12) == 0xFFFF) (p(6) & 0xff) match {
              case 0 => // string result follows in a STRING record
                pendingFormulaCell = Some(((row + 1).toLong, (col + 1).toLong))
              case 1 => put(row, col, if ((p(8) & 0xff) == 1) "TRUE" else "FALSE")
              case 2 => put(row, col, "#ERR")
              case _ => () // empty-string result: no cell
            } else put(row, col, numVal(ixfe,
              java.lang.Double.longBitsToDouble(u32(p, 6) | (u32(p, 10) << 32))))
          case Some((STRINGr, p, _)) =>
            pendingFormulaCell.foreach { case (r, c) =>
              val (s, _) = inlineString(p, 0, short = false)
              cells += ((r, c, s))
            }
            pendingFormulaCell = None
          case Some((BOOLERR, p, _)) =>
            val isErr = (p(7) & 0xff) == 1
            put(u16(p, 0), u16(p, 2),
              if (isErr) "#ERR" else if ((p(6) & 0xff) == 1) "TRUE" else "FALSE")
          case Some((MERGEDCELLS, p, _)) =>
            val n = u16(p, 0)
            (0 until n).foreach { k =>
              val o = 2 + 8 * k // Ref8: rwFirst, rwLast, colFirst, colLast
              merges += (((u16(p, o) + 1).toLong, (u16(p, o + 2) + 1).toLong,
                (u16(p, o + 4) + 1).toLong, (u16(p, o + 6) + 1).toLong))
            }
          case Some(_) => ()
        }
      }
      // anchor-fill merged regions — the Xlsx.parseWorkbook contract
      val cellSeq = cells.result()
      val have = cellSeq.map { case (r, c, _) => (r, c) }.toSet
      val anchor = cellSeq.map { case (r, c, v) => (r, c) -> v }.toMap
      val filled = merges.result().flatMap { case (r1, r2, c1, c2) =>
        anchor.get((r1, c1)).toSeq.flatMap { v =>
          for { r <- r1 to r2; c <- c1 to c2 if !have((r, c)) } yield (r, c, v)
        }
      }
      (cellSeq ++ filled).sortBy(t => (t._1, t._2)).map { case (r, c, v) =>
        (sheetName, (si + 1).toLong, r, c, v)
      }
    }
  }

  // ---- independent BIFF8 encoder (fixture writer) ---------------------

  /** Cell value for [[writeXls]] — each variant exercises a distinct
    * BIFF8 record family. */
  sealed trait XlsVal
  final case class XStr(s: String) extends XlsVal          // SST + LABELSST
  final case class XNum(v: Double) extends XlsVal          // NUMBER
  final case class XInt(v: Int) extends XlsVal             // RK (runs → MULRK)
  final case class XDate(iso: String) extends XlsVal       // NUMBER + date XF
  final case class XFormulaNum(v: Double) extends XlsVal   // FORMULA cached num
  final case class XFormulaStr(s: String) extends XlsVal   // FORMULA + STRING
  final case class XBool(v: Boolean) extends XlsVal        // BOOLERR

  /** One sheet: name, cells at 1-based (row, col), merged regions as
    * 1-based (r1, c1, r2, c2) anchored at (r1, c1). */
  final case class XlsSheet(name: String,
      cells: Seq[(Int, Int, XlsVal)],
      merges: Seq[(Int, Int, Int, Int)] = Nil)

  /** Independent `.xls` encoder: real CFB container + BIFF8 records,
    * sharing NO code with the reader. `splitSst` forces the SST to
    * split mid-string into a CONTINUE record (the §2.5.293 shape big
    * real workbooks hit); `padTo` pads the Workbook stream past the
    * 4,096-byte mini cutoff so it lands in regular FAT sectors —
    * below it, the stream rides the MINI stream (both container paths
    * get exercised by choosing fixtures on each side). Consecutive
    * XInt cells in a row become one MULRK record. Deterministic
    * bytes. */
  def writeXls(sheets: Seq[XlsSheet], date1904: Boolean = false,
      splitSst: Boolean = false, splitSstAtHeader: Boolean = false,
      sstIndexBump: Int = 0, padTo: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v); w8(v >> 8) }
    def w32(v: Long): Unit = { w16(v.toInt); w16((v >> 16).toInt) }
    def rec(id: Int, payload: Array[Byte]): Unit = {
      w16(id); w16(payload.length); out.write(payload)
    }
    def bb(build: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream(); build(b); b.toByteArray
    }
    def p16(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
      b.write(v & 0xff); b.write((v >> 8) & 0xff)
    }
    def p32(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
      p16(b, v.toInt); p16(b, (v >> 16).toInt)
    }
    def p64(b: java.io.ByteArrayOutputStream, v: Double): Unit = {
      val bits = java.lang.Double.doubleToLongBits(v)
      p32(b, bits & 0xFFFFFFFFL); p32(b, bits >>> 32)
    }
    def pstr(b: java.io.ByteArrayOutputStream, s: String): Unit = {
      // XLUnicodeString: u16 cch, flags, chars (wide iff non-ASCII)
      val wide = s.exists(_ > 0xFF)
      p16(b, s.length); b.write(if (wide) 1 else 0)
      s.foreach { ch => if (wide) p16(b, ch.toInt) else b.write(ch.toInt & 0xff) }
    }
    // shared strings in first-appearance order
    val sstStrings = scala.collection.mutable.LinkedHashMap[String, Int]()
    var total = 0
    sheets.foreach(_.cells.foreach {
      case (_, _, XStr(v)) =>
        total += 1
        if (!sstStrings.contains(v)) sstStrings(v) = sstStrings.size
      case _ => ()
    })
    // ---- workbook globals substream
    val bofGlobals = bb { b =>
      p16(b, 0x600); p16(b, 0x0005); p16(b, 0x0DBB); p16(b, 0x07CC)
      p32(b, 0L); p32(b, 0L)
    }
    rec(0x809, bofGlobals)
    rec(0x22, bb(p16(_, if (date1904) 1 else 0))) // DATEMODE
    // XFs: 16 style stubs, then cell XF 16 (general) and 17 (date 14)
    val xfPad = new Array[Byte](16)
    (0 until 16).foreach(_ => rec(0xE0, bb { b => p16(b, 0); p16(b, 0); b.write(xfPad) }))
    rec(0xE0, bb { b => p16(b, 0); p16(b, 0); b.write(xfPad) })   // ixfe 16
    rec(0xE0, bb { b => p16(b, 0); p16(b, 14); b.write(xfPad) })  // ixfe 17
    val IxfeGeneral = 16
    val IxfeDate = 17
    // SST, optionally split mid-string into a CONTINUE
    val strings = sstStrings.keys.toSeq
    if (splitSst && strings.nonEmpty && strings.last.length >= 8) {
      val head = strings.dropRight(1)
      val last = strings.last
      val cut = 3
      val sstPart = bb { b =>
        p32(b, total.toLong); p32(b, strings.size.toLong)
        head.foreach(pstr(b, _))
        // last string header + first `cut` chars (compressed)
        p16(b, last.length); b.write(0)
        last.take(cut).foreach(ch => b.write(ch.toInt & 0xff))
      }
      val contPart = bb { b =>
        b.write(0) // fresh flags byte: continuation stays compressed
        last.drop(cut).foreach(ch => b.write(ch.toInt & 0xff))
      }
      rec(0xFC, sstPart)
      rec(0x3C, contPart)
    } else if (splitSstAtHeader && strings.nonEmpty) {
      // the nastier §2.5.293 shape: the record boundary falls EXACTLY
      // between the last string's header and its first character — the
      // continuation still leads with a fresh flags byte, here flipping
      // the string to wide chars to make a mis-read unmissable
      val head = strings.dropRight(1)
      val last = strings.last
      rec(0xFC, bb { b =>
        p32(b, total.toLong); p32(b, strings.size.toLong)
        head.foreach(pstr(b, _))
        p16(b, last.length); b.write(0) // header only; zero chars consumed
      })
      rec(0x3C, bb { b =>
        b.write(1) // fresh flags byte: continuation switches to WIDE
        last.foreach(ch => p16(b, ch.toInt))
      })
    } else if (strings.nonEmpty) {
      rec(0xFC, bb { b =>
        p32(b, total.toLong); p32(b, strings.size.toLong)
        strings.foreach(pstr(b, _))
      })
    }
    // BOUNDSHEETs with offsets patched after assembly
    val boundsAt = sheets.map { sh =>
      val at = out.size() + 4 // lbPlyPos lives at payload offset 0
      rec(0x85, bb { b =>
        p32(b, 0L); p16(b, 0)
        val wide = sh.name.exists(_ > 0xFF)
        b.write(sh.name.length); b.write(if (wide) 1 else 0)
        sh.name.foreach { ch =>
          if (wide) p16(b, ch.toInt) else b.write(ch.toInt & 0xff) }
      })
      at
    }
    rec(0x0A, Array.emptyByteArray) // EOF of globals
    // ---- sheet substreams
    val sheetOffsets = sheets.map { sh =>
      val off = out.size()
      rec(0x809, bb { b =>
        p16(b, 0x600); p16(b, 0x0010); p16(b, 0x0DBB); p16(b, 0x07CC)
        p32(b, 0L); p32(b, 0L)
      })
      // group consecutive XInt runs per row into MULRK
      val sorted = sh.cells.sortBy(t => (t._1, t._2))
      var i = 0
      while (i < sorted.length) {
        val (r, c, v) = sorted(i)
        v match {
          case XInt(n0) =>
            var j = i + 1
            while (j < sorted.length && sorted(j)._1 == r &&
                sorted(j)._2 == sorted(j - 1)._2 + 1 &&
                sorted(j)._3.isInstanceOf[XInt]) j += 1
            if (j - i >= 2) {
              rec(0xBD, bb { b =>
                p16(b, r - 1); p16(b, c - 1)
                (i until j).foreach { k =>
                  p16(b, IxfeGeneral)
                  p32(b, (sorted(k)._3.asInstanceOf[XInt].v.toLong << 2) | 2L)
                }
                p16(b, c - 1 + (j - i - 1))
              })
              i = j
            } else {
              rec(0x27E, bb { b =>
                p16(b, r - 1); p16(b, c - 1); p16(b, IxfeGeneral)
                p32(b, (n0.toLong << 2) | 2L)
              })
              i += 1
            }
          case XStr(s) =>
            rec(0xFD, bb { b =>
              p16(b, r - 1); p16(b, c - 1); p16(b, IxfeGeneral)
              // sstIndexBump simulates a corrupt/mis-stitched SST ref
              p32(b, (sstStrings(s) + sstIndexBump).toLong)
            })
            i += 1
          case XNum(d) =>
            rec(0x203, bb { b =>
              p16(b, r - 1); p16(b, c - 1); p16(b, IxfeGeneral); p64(b, d)
            })
            i += 1
          case XDate(iso) =>
            rec(0x203, bb { b =>
              p16(b, r - 1); p16(b, c - 1); p16(b, IxfeDate)
              // the serial must match the book's declared epoch: the
              // 1900-system inverse, or plain days since 1904-01-01
              val serial =
                if (!date1904) Xlsx.isoToSerial(iso)
                else {
                  val day = iso.takeWhile(_ != ' ')
                  java.time.temporal.ChronoUnit.DAYS.between(
                    java.time.LocalDate.of(1904, 1, 1),
                    java.time.LocalDate.parse(day)).toDouble
                }
              p64(b, serial)
            })
            i += 1
          case XFormulaNum(d) =>
            rec(0x06, bb { b =>
              p16(b, r - 1); p16(b, c - 1); p16(b, IxfeGeneral)
              p64(b, d); p16(b, 0); p32(b, 0L); p16(b, 0)
            })
            i += 1
          case XFormulaStr(s) =>
            rec(0x06, bb { b =>
              p16(b, r - 1); p16(b, c - 1); p16(b, IxfeGeneral)
              b.write(0); b.write(0); p32(b, 0L); p16(b, 0xFFFF)
              p16(b, 0); p32(b, 0L); p16(b, 0)
            })
            rec(0x207, bb(pstr(_, s)))
            i += 1
          case XBool(v0) =>
            rec(0x205, bb { b =>
              p16(b, r - 1); p16(b, c - 1); p16(b, IxfeGeneral)
              b.write(if (v0) 1 else 0); b.write(0)
            })
            i += 1
        }
      }
      if (sh.merges.nonEmpty) {
        rec(0xE5, bb { b =>
          p16(b, sh.merges.size)
          sh.merges.foreach { case (r1, c1, r2, c2) =>
            p16(b, r1 - 1); p16(b, r2 - 1); p16(b, c1 - 1); p16(b, c2 - 1)
          }
        })
      }
      rec(0x0A, Array.emptyByteArray)
      off
    }
    var wb = out.toByteArray
    // patch BOUNDSHEET lbPlyPos
    boundsAt.zip(sheetOffsets).foreach { case (at, off) =>
      wb(at) = (off & 0xff).toByte
      wb(at + 1) = ((off >> 8) & 0xff).toByte
      wb(at + 2) = ((off >> 16) & 0xff).toByte
      wb(at + 3) = ((off >> 24) & 0xff).toByte
    }
    if (wb.length < padTo) wb = java.util.Arrays.copyOf(wb, padTo)
    cfbWrap("Workbook", wb)
  }

  /** Wrap one stream into a minimal, valid CFB container. Streams
    * under the 4,096-byte cutoff are stored in the MINI stream (root
    * entry chain + mini FAT), larger ones in regular FAT sectors —
    * exactly the rule readers dispatch on. */
  private[graft] def cfbWrap(name: String, stream: Array[Byte]): Array[Byte] = {
    val sec = 512
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = { w16(v.toInt); w16((v >> 16).toInt) }
    def pad(): Unit = while (out.size() % sec != 512 % sec) out.write(0)
    val mini = stream.length < 4096
    val nStreamSectors = (stream.length + sec - 1) / sec
    val nMiniSectors = (stream.length + 63) / 64
    val miniStreamBytes = nMiniSectors * 64
    val nMiniStreamSectors = (miniStreamBytes + sec - 1) / sec
    // sector plan (regular): 0 = FAT, 1 = DIR, then payload
    // mini:    2 = miniFAT, 3.. = mini stream sectors
    // regular: 2.. = stream sectors
    val dirSect = 1L
    val miniFatSect = 2L
    val firstPayload = if (mini) 3 else 2
    val nPayload = if (mini) nMiniStreamSectors else nStreamSectors
    // header
    w32(0xE011CFD0L); w32(0xE11AB1A1L)
    (0 until 16).foreach(_ => out.write(0)) // CLSID
    w16(0x3E); w16(3); w16(0xFFFE) // minor, major, byte order
    w16(9); w16(6) // sector shift 512, mini shift 64
    (0 until 6).foreach(_ => out.write(0)) // reserved
    w32(0L) // numDirSectors (v3: 0)
    w32(1L) // numFat
    w32(dirSect) // dirStart
    w32(0L) // transaction
    w32(4096L) // mini cutoff
    w32(if (mini) miniFatSect else EndOfChain) // miniFatStart
    w32(if (mini) 1L else 0L) // numMiniFat
    w32(EndOfChain); w32(0L) // difatStart, numDifat
    w32(0L) // DIFAT[0] = FAT sector 0
    (1 until 109).foreach(_ => w32(FreeSect))
    require(out.size() == 512, s"CFB header ${out.size()}")
    // FAT sector (sector 0)
    val fat = Array.fill[Long](sec / 4)(FreeSect)
    fat(0) = 0xFFFFFFFDL // FATSECT
    fat(dirSect.toInt) = EndOfChain
    if (mini) {
      fat(miniFatSect.toInt) = EndOfChain
      (0 until nPayload).foreach { k =>
        fat(firstPayload + k) =
          if (k == nPayload - 1) EndOfChain else (firstPayload + k + 1).toLong
      }
    } else {
      (0 until nPayload).foreach { k =>
        fat(firstPayload + k) =
          if (k == nPayload - 1) EndOfChain else (firstPayload + k + 1).toLong
      }
    }
    fat.foreach(w32)
    // directory sector (sector 1): Root + stream + 2 free entries
    def dirEntry(ename: String, objType: Int, start: Long, size: Long,
        child: Long): Unit = {
      val n16 = ename.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      out.write(java.util.Arrays.copyOf(n16, 64))
      w16(if (ename.isEmpty) 0 else n16.length + 2)
      out.write(objType); out.write(1) // color: black
      w32(FreeSect); w32(FreeSect) // left, right siblings
      w32(child)
      (0 until 16).foreach(_ => out.write(0)) // CLSID
      w32(0L) // state bits
      w32(0L); w32(0L) // created
      w32(0L); w32(0L) // modified
      w32(start)
      w32(size); w32(0L) // 64-bit size, high half 0
    }
    dirEntry("Root Entry", 5,
      if (mini) firstPayload.toLong else EndOfChain,
      if (mini) miniStreamBytes.toLong else 0L, 1L)
    dirEntry(name, 2,
      if (mini) 0L else firstPayload.toLong, stream.length.toLong, FreeSect)
    dirEntry("", 0, FreeSect, 0L, FreeSect)
    dirEntry("", 0, FreeSect, 0L, FreeSect)
    if (mini) {
      // mini FAT sector: chain 0 → 1 → … → EOC
      val mf = Array.fill[Long](sec / 4)(FreeSect)
      (0 until nMiniSectors).foreach { k =>
        mf(k) = if (k == nMiniSectors - 1) EndOfChain else (k + 1).toLong
      }
      mf.foreach(w32)
      // mini stream payload (the root entry's chain)
      out.write(stream)
      (stream.length until miniStreamBytes).foreach(_ => out.write(0))
      pad()
    } else {
      out.write(stream)
      pad()
    }
    out.toByteArray
  }
}
