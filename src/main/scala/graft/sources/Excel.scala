package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Generation-blind Excel reader — the exact `pd.read_excel` contract
  * (mainTesting.py:456-458): pandas dispatches on the FILE BYTES, not
  * the extension, so a modern workbook someone renamed `.xls` (or a
  * legacy one renamed `.xlsx` — both endemic in filing archives) still
  * opens. This reader scans BOTH extensions under a directory and
  * sniffs each payload's magic:
  *
  *   - `PK\x03\x04` → OOXML zip → [[Xlsx.parseWorkbook]]
  *   - `D0 CF 11 E0` → CFB/OLE2 → [[Xls.parseWorkbook]] (BIFF8)
  *   - anything else → loud per-file failure naming the first bytes
  *
  * Output is the shared long [[Xlsx.Cell]] shape, so every downstream
  * operator is generation-blind too. Parsing stays a per-file executor
  * `flatMap` — a directory of N workbooks parallelizes N-ways and the
  * payload bytes never shuffle. */
object Excel {

  /** Sniff one payload and parse with the matching generation's
    * parser. */
  def parseAny(bytes: Array[Byte]): Seq[(String, Long, Long, Long, String)] = {
    if (bytes.length >= 4 &&
        bytes(0) == 0x50 && bytes(1) == 0x4B &&
        bytes(2) == 0x03 && bytes(3) == 0x04)
      Xlsx.parseWorkbook(bytes)
    else if (bytes.length >= 4 &&
        (bytes(0) & 0xff) == 0xD0 && (bytes(1) & 0xff) == 0xCF &&
        (bytes(2) & 0xff) == 0x11 && (bytes(3) & 0xff) == 0xE0)
      Xls.parseWorkbook(bytes)
    else throw new IllegalArgumentException(
      "not an Excel workbook: leading bytes " +
        bytes.take(4).map(b => f"${b & 0xff}%02X").mkString(" ") +
        " are neither a zip (OOXML .xlsx) nor a compound file (BIFF8 .xls)")
  }

  /** Read every top-level .xls and .xlsx under `dir` (any case) into the
    * long cell shape, dispatching each file on its magic bytes (a
    * mislabeled extension reads through the right parser, the pandas
    * behavior). */
  def read(spark: SparkSession, dir: String): Dataset[Xlsx.Cell] = {
    import spark.implicits._
    Sources.perFile(spark, dir, Seq("xls", "xlsx"))(Xlsx.cellsOf(parseAny))
  }

  /** Reference `cari_sheet_excel` over BOTH generations at once. */
  def discoverSheet(spark: SparkSession, dir: String, keyword: String): DataFrame =
    Xlsx.firstSheetWith(read(spark, dir), keyword)
}
