package graft

import java.io.File
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.sources.{Excel, Pdf, Xls, Xlsx}
import org.apache.spark.sql.{AnalysisException, DataFrame}

/** The connectors' one binary-file scan (`Sources.perFile`): which files
  * each PDF and Excel reader picks up, how a read with nothing to read
  * fails, that a good read logs no metadata-probe WARN, and that the
  * scan has no second copy in the main sources. */
class BinaryScanSpec extends SparkSpec {
  import spark.implicits._

  /** A landing directory whose top level mixes extension cases, glob
    * metacharacters in names, hidden files, a non-matching file and a
    * directory named like a file, with matching files one level down in
    * a plain and a `k=v` directory. */
  private lazy val landing: String = {
    val dir = graft.util.Scratch.dir("binary_scan_spec")
    graft.util.Scratch.deleteRecursively(new File(dir))
    val pdf = Pdf.writePdfRuled(graft.queries.Media.pdfLatticeFixture)
    val xlsx = Xlsx.writeWorkbook(
      Seq("S" -> Seq(Seq(Xlsx.W("kas"), Xlsx.W("bank")))), Seq(Seq("A1:B1")))
    val xls = Xls.writeXls(Seq(Xls.XlsSheet("L", Seq((1, 1, Xls.XStr("kas"))))))
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val f = new File(dir, rel)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, bytes)
    }
    Seq("a.pdf", "B.PDF", "r[1].pdf", ".hidden.pdf", "_tmp.pdf", "sub/c.pdf",
      "yr=2023/p.pdf", "dir.pdf/inner.pdf").foreach(put(_, pdf))
    Seq("x.xlsx", "Y.XLSX", "{d}.xlsx", ".h.xlsx", "sub/z.xlsx", "yr=2023/q.xlsx")
      .foreach(put(_, xlsx))
    Seq("w.xls", "V.XLS", "_w.xls", "yr=2023/u.xls").foreach(put(_, xls))
    put("notes.txt", "not a filing".getBytes(ISO_8859_1))
    dir
  }

  private def files(df: DataFrame): Set[String] =
    df.select("file").distinct().as[String].collect().toSet

  test("each reader reads exactly its top-level matches, extensions in any case") {
    val pdfs = Set("a.pdf", "B.PDF", "r[1].pdf")
    val xlsxs = Set("x.xlsx", "Y.XLSX", "{d}.xlsx")
    val xlss = Set("w.xls", "V.XLS")
    assert(files(Pdf.read(spark, landing).toDF()) === pdfs)
    assert(files(Pdf.readPositioned(spark, landing).toDF()) === pdfs)
    assert(files(Pdf.readRulings(spark, landing).toDF()) === pdfs)
    assert(files(Pdf.tableLattice(spark, landing)) === pdfs)
    assert(files(Pdf.tableAuto(spark, landing)) === pdfs)
    assert(files(Xlsx.read(spark, landing).toDF()) === xlsxs)
    assert(files(Xlsx.mergedRegions(spark, landing)) === xlsxs)
    assert(files(Xls.read(spark, landing).toDF()) === xlss)
    assert(files(Excel.read(spark, landing).toDF()) === xlsxs ++ xlss)
    // one file scan over exactly the matching files
    assert(graft.util.PlanMetrics.filesRead(Pdf.read(spark, landing).toDF()) === 3L)
    assert(graft.util.PlanMetrics.filesRead(Excel.read(spark, landing).toDF()) === 5L)
    // the three discoverSheet entry points share one body: first file in
    // name order (upper case sorts first), then declared sheet order
    def first(df: DataFrame) = df.as[(String, String, Long)].collect().toSeq
    assert(first(Xlsx.discoverSheet(spark, landing, "BANK")) === Seq(("Y.XLSX", "S", 1L)))
    assert(first(Xls.discoverSheet(spark, landing, "Kas")) === Seq(("V.XLS", "L", 1L)))
    assert(first(Excel.discoverSheet(spark, landing, "kas")) === Seq(("V.XLS", "L", 1L)))
  }

  test("a missing directory or one with no matching file fails loudly, naming both") {
    def fails(read: => Any, dir: String, exts: String): Unit = {
      val e = intercept[AnalysisException](read)
      assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
      assert(e.getMessage.contains(dir) && e.getMessage.contains(exts), e.getMessage)
    }
    val missing = s"$landing/absent"
    fails(Pdf.read(spark, missing), missing, "pdf")
    fails(Xlsx.mergedRegions(spark, missing), missing, "xlsx")
    fails(Excel.read(spark, missing), missing, "xls,xlsx")
    val sub = s"$landing/sub" // holds c.pdf and z.xlsx only
    fails(Xls.read(spark, sub), sub, "xls")
    fails(Pdf.tableAuto(spark, s"$landing/yr=2023/p.pdf"), "p.pdf", "pdf")
  }

  test("a good read logs no FileStreamSink metadata-probe WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probe = new AbstractAppender("binary-scan-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    probe.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(probe, Level.WARN, null)
    ctx.updateLoggers()
    try {
      Pdf.read(spark, landing).count()
      Xlsx.read(spark, landing).count()
      Excel.read(spark, landing).count()
      // one matching file: a single load path, the case the probe stats
      Xlsx.read(spark, s"$landing/sub").count()
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender(probe.getName)
      ctx.updateLoggers()
      probe.stop()
    }
    val probes = seen.asScala.filter(_.contains("metadata directory")).toSeq
    assert(probes.isEmpty, s"metadata-probe WARNs on good reads: $probes")
  }

  test("format(\"binaryFile\") appears in exactly one main source file") {
    val root = new File(sys.props("user.dir"), "src/main/scala").toPath
    assert(Files.isDirectory(root), s"main sources not found under $root")
    val needle = "format(\"binaryFile\")"
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), ISO_8859_1)
        val n = text.split(java.util.regex.Pattern.quote(needle), -1).length - 1
        if (n > 0) Some(root.relativize(p).toString -> n) else None
      }.toSeq
    assert(hits === Seq("graft/sources/Sources.scala" -> 1),
      "the PDF and Excel connectors read through Sources.perFile; a second " +
        s"binaryFile load duplicates its listing and probe rules: $hits")
  }
}
