package graft

import graft.queries.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {

  test("every text query runs; oracle SQL exists for each") {
    TextOps.queries.foreach { case (name, fn) =>
      assert(fn(spark, sfDir).columns.nonEmpty, name)
    }
    assert(TextOps.queries.keySet == TextOps.oracle.keySet)
  }

  test("t01 cleaning round-trips every document") {
    val df = TextOps.queries("t01_clean_roundtrip")(spark, sfDir)
    assert(df.filter(!col("roundtrip_ok")).count() == 0)
  }

  test("t06 segmentation is total: token counts add back up per doc") {
    val segs = TextOps.queries("t06_segmentation")(spark, sfDir)
      .groupBy("doc_id").agg(sum("n_words").as("n"))
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("want"))
    val bad = segs.join(docs, "doc_id").filter(col("n") =!= col("want"))
    assert(bad.count() == 0)
  }

  test("t07 repair leaves no empty bodies") {
    val df = TextOps.queries("t07_content_repair")(spark, sfDir)
    assert(df.filter(col("repaired").isNull || col("repaired") === "").count() == 0)
  }

  test("map-only queries have no shuffle; segmentation shuffles on doc_id once") {
    val clean = planOf(TextOps.queries("t01_clean_roundtrip")(spark, sfDir))
    // t01 sorts for output determinism; no hash shuffle before it
    assert(!clean.contains("Exchange hashpartitioning"), clean)
    val seg = planOf(TextOps.queries("t06_segmentation")(spark, sfDir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(seg).size
    assert(exchanges <= 2, s"window + groupBy should reuse doc_id partitioning:\n$seg")
  }

  test("t11 packing conserves tokens and packs each language from bin 0") {
    import org.apache.spark.sql.functions.{col, min, sum, regexp_extract_all, size, lit}
    val df = TextOps.queries("t11_sequence_packing")(spark, sfDir)
    val packed = df.agg(sum(col("sum_tokens"))).head.getLong(0)
    val corpus = graft.sources.Tables.documents(spark, sfDir)
      .select(sum(size(regexp_extract_all(col("text"), lit("[^ ]+"), lit(0))).cast("long")))
      .head.getLong(0)
    assert(packed == corpus, "every token lands in exactly one sequence bin")
    val firstBins = df.groupBy(col("lang")).agg(min(col("seq_id")).as("m"))
    assert(firstBins.filter(col("m") =!= 0L).count() == 0,
      "each language's packing starts at bin 0")
  }

  test("t09 redaction removes every planted PII token") {
    import org.apache.spark.sql.functions.col
    val df = TextOps.queries("t09_pii_redaction")(spark, sfDir)
    assert(df.filter(!col("clean")).count() == 0, "residual PII after redaction")
    assert(df.filter(col("n_emails") < 1 || col("n_phones") < 1 || col("n_ips") < 1)
      .count() == 0, "every doc has the planted email/phone/ip")
    assert(df.filter(col("redacted").contains("<EMAIL>") &&
      col("redacted").contains("<PHONE>") && col("redacted").contains("<IP>"))
      .count() == df.count())
  }

  test("the segment kernel equals the declarative t06/t07 plans on adversarial fixtures") {
    val docs = segmentFixture
    val got = TextOps.segments(docs)
    val t06 = got.select("doc_id", "seg", "n_words", "content").orderBy("doc_id", "seg")
    val t07 = got.select("doc_id", "seg", "repaired").orderBy("doc_id", "seg")
    val (want06, want07) = (declarativeT06(docs), declarativeT07(docs))
    assert(t06.schema.map(f => (f.name, f.dataType)) == want06.schema.map(f => (f.name, f.dataType)))
    assert(t07.schema.map(f => (f.name, f.dataType)) == want07.schema.map(f => (f.name, f.dataType)))
    val (g6, w6) = (t06.collect().toSeq, want06.collect().toSeq)
    assert(g6 == w6, s"t06: kernel only ${g6 diff w6}, declarative only ${w6 diff g6}")
    val (g7, w7) = (t07.collect().toSeq, want07.collect().toSeq)
    assert(g7 == w7, s"t07: kernel only ${g7 diff w7}, declarative only ${w7 diff g7}")
  }

  test("the segment fixtures cover every case the parity claim rests on") {
    import spark.implicits._
    val rows = segmentFixture.as[(Option[Long], String)].collect().toSeq
    val texts = rows.map(_._2)
    def toks(t: String) = t.split(" ", -1).toSeq
    assert(texts.contains(null) && texts.contains(""), "null and empty text")
    assert(texts.exists(t => t != null && t.startsWith(" ")), "a leading space")
    assert(texts.exists(t => t != null && t.endsWith(" ")), "a trailing space")
    assert(texts.exists(t => t != null && t.contains("  ")), "a double space")
    assert(texts.exists(t => t != null && toks(t).head == "table"), "'table' first")
    assert(texts.exists(t => t != null && toks(t).last == "table"), "'table' last")
    assert(texts.exists(t => t != null && toks(t).sliding(2).contains(Seq("table", "table"))),
      "'table' repeated")
    assert(texts.exists(t => t != null && t.exists(_ > 127)), "non-ASCII text")
    assert(texts.exists(t => t != null && t.exists(Character.isSurrogate)), "a surrogate pair")
    assert(texts.exists(t => t != null && toks(t).size < 3), "fewer than 3 tokens")
    assert(rows.exists(_._1.isEmpty), "a null doc_id")
  }

  test("an id carried by several rows segments its texts one after another, in text order") {
    import spark.implicits._
    val split = Seq((7L, "b table c"), (7L, "a table"), (8L, "x")).toDF("doc_id", "text")
    val joined = Seq((7L, "a table b table c"), (8L, "x")).toDF("doc_id", "text")
    def rows(df: DataFrame) = TextOps.segments(df).orderBy("doc_id", "seg").collect().toSeq
    assert(rows(split) == rows(joined))
    assert(rows(split.repartition(3)) == rows(split))
  }

  /** (doc_id, text) rows built to break a segmentation: null and empty
    * text, stray spaces (leading, trailing, double, a lone space),
    * 'table' first, last, repeated and alone, non-ASCII words and a
    * surrogate pair (U+1F600), documents of 1-2 tokens and one null
    * doc_id. Ids are unique: the declarative window orders a doc's
    * tokens by position only, so two rows of one id tie. */
  private def segmentFixture: DataFrame = {
    import spark.implicits._
    val texts = Seq(
      "intro words table alpha beta table gamma",
      "table first then more table",
      "table table table",
      "table",
      "a b",
      "solo",
      "",
      " ",
      null,
      " leading space table x",
      "trailing space table ",
      "double  space table  y",
      "pre table  table z",
      "caf\u00e9 na\u00efve table \u00fcber \ud83d\ude00 smile",
      "\ud83d\ude00 table \u00e9",
      "preamble only here")
    val rows = texts.zipWithIndex.map { case (t, i) => (Option(i * 3L + 1), t) }
    (rows :+ ((None: Option[Long]), "null id table kept")).toDF("doc_id", "text")
  }

  /** Tokens with 1-based positions, as TextOps' `tokens` builds them. */
  private def tokensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos0", "word")))
      .withColumn("pos", (col("pos0") + 1).cast("long")).drop("pos0")

  private def headed(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokensOf(docs)
      .withColumn("is_head", when(col("word") === "table", 1L).otherwise(0L))
      .withColumn("seg", sum(col("is_head")).over(w))
  }

  /** The window form of t06 the segment kernel replaced. */
  private def declarativeT06(docs: DataFrame): DataFrame =
    headed(docs)
      .groupBy(col("doc_id"), col("seg"))
      .agg(count(lit(1)).as("n_words"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")), " ").as("content"))
      .orderBy(col("doc_id"), col("seg"))

  /** The window + lead form of t07 the segment kernel replaced. */
  private def declarativeT07(docs: DataFrame): DataFrame = {
    val segs = headed(docs)
      .groupBy(col("doc_id"), col("seg"))
      .agg(array_join(transform(array_sort(collect_list(
          when(col("is_head") === 0, struct(col("pos"), col("word"))))),
          x => x.getField("word")), " ").as("body"))
      .withColumn("body", nullif(col("body"), lit("")))
    val segW = Window.partitionBy(col("doc_id")).orderBy(col("seg"))
    segs
      .withColumn("repaired", coalesce(col("body"), lead(col("body"), 1).over(segW), lit("-")))
      .select(col("doc_id"), col("seg"), col("repaired"))
      .orderBy(col("doc_id"), col("seg"))
  }
}
