package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Text / line operators (SURVEY.md §2.2 P5-P13, §2.8 F1-F15, §2.5 W3/W4).
  *
  * The reference's text plane is ordered PDF lines; here the `documents`
  * table supplies the text and token position (1-based `pos` from
  * posexplode) supplies the explicit order — document order is data, not
  * a side effect (SURVEY §1.1). Most queries are built from
  * `spark.sql.functions` only, so WholeStageCodegen covers them. The
  * exception is segmentation (t06/t07): one JVM kernel per document
  * through `graft.ext.DocText`, where the window form exploded,
  * shuffled and re-collected every token.
  *
  * Scale notes: segmentation shuffles the documents once, hash
  * partitioned on doc_id (one row per document, never per token);
  * per-doc state is one document's tokens. Cleaning/predicate queries
  * are map-only — zero shuffles before the final ordered write.
  */
object TextOps extends QueryModule {

  /** Tokens with explicit 1-based position — the engine's `pdf_lines`
    * analog (doc_id, pos, word). */
  private def tokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos0", "word")))
      .withColumn("pos", ($"pos0" + 1).cast("long")).drop("pos0")
  }

  /** t01 — cleaning chain (P5 blank filter, P6 whitespace normalize, F1
    * lower, F2 trim): mess up the text deterministically, then clean it
    * back; the cleaned form must equal the original (round-trip check is
    * the oracle's job — both engines compute both forms).
    */
  private def t01(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("messy", concat(lit("  "), upper($"text"), lit("   \t")))
      .withColumn("cleaned", lower(trim(regexp_replace($"messy", "\\s+", " "))))
      .select($"doc_id", ($"cleaned" === $"text").as("roundtrip_ok"),
        length($"cleaned").cast("long").as("n_chars_clean"))
      .orderBy($"doc_id")
  }
  private val t01Sql =
    """SELECT doc_id,
         lower(trim(regexp_replace('  ' || upper(text) || '   ' || chr(9), '\s+', ' ', 'g'))) = text AS roundtrip_ok,
         strlen(lower(trim(regexp_replace('  ' || upper(text) || '   ' || chr(9), '\s+', ' ', 'g')))) AS n_chars_clean
       FROM documents ORDER BY doc_id"""

  /** t02 — predicate battery (P7 substring, P8 conjunctive containment,
    * P9/P10 regex shape tests, F8 case tests).
    */
  private def t02(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        lower($"text").contains("spark").as("has_spark"),
        (lower($"text").contains("join") && lower($"text").contains("hash")).as("has_join_and_hash"),
        $"text".rlike("^the ").as("starts_the"),
        $"text".rlike("\\bdup\\b").as("has_dup_marker"),
        (upper($"lang") === $"lang").as("lang_is_upper"))
      .orderBy($"doc_id")
  }
  private val t02Sql =
    """SELECT doc_id,
         contains(lower(text), 'spark') AS has_spark,
         contains(lower(text), 'join') AND contains(lower(text), 'hash') AS has_join_and_hash,
         regexp_matches(text, '^the ') AS starts_the,
         regexp_matches(text, '\bdup\b') AS has_dup_marker,
         upper(lang) = lang AS lang_is_upper
       FROM documents ORDER BY doc_id"""

  /** t03 — regex extraction (F4 ticker-from-filename analog: numeric id
    * from the source tag) + F15 basename-style suffix handling.
    */
  private def t03(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("src_num", regexp_extract($"source", "[0-9]+", 0).cast("int"))
      .groupBy($"src_num")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"src_num")
  }
  private val t03Sql =
    """SELECT CAST(regexp_extract(source, '[0-9]+', 0) AS INT) AS src_num,
         count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
       FROM documents GROUP BY 1 ORDER BY src_num"""

  /** t04 — split + element access (F6 split/element_at, F7 prefix tests,
    * F9 concat, F13 char arithmetic, plus levenshtein as the engine's
    * fuzzy-compare extension).
    */
  private def t04(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("toks", split($"text", " "))
      .select($"doc_id",
        element_at($"toks", 1).as("first_word"),
        element_at($"toks", -1).as("last_word"),
        size($"toks").cast("long").as("n_tokens"),
        substring(element_at($"toks", 1), 1, 1).as("first_char"),
        chr(ascii(substring(element_at($"toks", 1), 1, 1)) + 1).as("next_char"),
        levenshtein(element_at($"toks", 1), element_at($"toks", -1)).cast("long").as("lev_first_last"),
        element_at($"toks", 1).startsWith("s").as("starts_s"))
      .orderBy($"doc_id")
  }
  private val t04Sql =
    """SELECT doc_id,
         string_split(text, ' ')[1] AS first_word,
         string_split(text, ' ')[-1] AS last_word,
         len(string_split(text, ' ')) AS n_tokens,
         substr(string_split(text, ' ')[1], 1, 1) AS first_char,
         chr(ascii(substr(string_split(text, ' ')[1], 1, 1)) + 1) AS next_char,
         levenshtein(string_split(text, ' ')[1], string_split(text, ' ')[-1]) AS lev_first_last,
         string_split(text, ' ')[1] LIKE 's%' AS starts_s
       FROM documents ORDER BY doc_id"""

  /** t05 — ordered token explode (the pdf_lines construction itself:
    * posexplode ≈ SURVEY §1.1 "order made explicit as a line_no column").
    * Sampled by doc_id so the result stays bounded at every SF.
    */
  private def t05(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    tokens(s, d).filter($"doc_id" % 100 === 0)
      .select($"doc_id", $"pos", $"word")
      .orderBy($"doc_id", $"pos")
  }
  private val t05Sql =
    """SELECT doc_id, i AS pos, string_split(text, ' ')[i] AS word
       FROM documents, unnest(generate_series(1, len(string_split(text, ' ')))) AS t(i)
       WHERE doc_id % 100 = 0 ORDER BY doc_id, pos"""

  /** Heading-driven segmentation (SURVEY §2.5 W3) of `(doc_id, text)`
    * rows, one [[DocText]] pass per document: the heading word 'table'
    * opens a new segment and belongs to it; segment 0 is the preamble
    * before the first heading, present only when that preamble has
    * tokens. Per segment:
    *  - `n_words`, its tokens, heading included;
    *  - `content`, those tokens joined by ' ';
    *  - `repaired`, t07's forward repair: the body (the tokens without
    *    the heading, joined by ' '; an empty body, or a lone empty
    *    token, is null) else the next segment's body else '-'.
    * The declarative forms (posexplode → running sum of the heading
    * flag over a doc_id window → `collect_list` per segment → `lead`)
    * shuffled every token row; TextOpsSpec keeps them as the kernel's
    * reference. doc_id is the documents' key: an id carried by several
    * rows segments their texts one after another, in text order. */
  private[graft] def segments(docs: DataFrame): DataFrame = {
    import graft.ext.DocText
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    DocText.perDoc(docs, col("doc_id"), col("text"),
      StructField("seg", LongType), StructField("n_words", LongType, nullable = false),
      StructField("content", StringType), StructField("repaired", StringType)) { () =>
      (key, texts) => {
        val toks = texts.flatten.toArray
        // segment k spans toks(starts(k)) until the next start
        val starts = toks.indices.filter(i => i == 0 || toks(i) == "table")
        val segs = starts.indices.map { k =>
          val seg = toks.slice(starts(k), if (k + 1 < starts.size) starts(k + 1) else toks.size)
          val body = (if (seg.head == "table") seg.tail else seg).mkString(" ")
          (seg, if (body.isEmpty) null else body)
        }
        val firstSeg = if (toks.nonEmpty && toks.head == "table") 1L else 0L
        segs.indices.iterator.map { k =>
          val (seg, body) = segs(k)
          val next = if (k + 1 < segs.size) segs(k + 1)._2 else null
          Row(key, firstSeg + k, seg.size.toLong, seg.mkString(" "),
            Option(body).orElse(Option(next)).getOrElse("-"))
        }
      }
    }
  }

  /** t06 — segmentation (SURVEY §2.5 W3(a): heading flag → segment id
    * → ordered concat per segment), from [[segments]]. */
  private def t06(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    segments(Tables.table(s, d, "documents"))
      .select($"doc_id", $"seg", $"n_words", $"content")
      .orderBy($"doc_id", $"seg")
  }
  private val t06Sql =
    """SELECT doc_id, seg, count(*) AS n_words,
         string_agg(word, ' ' ORDER BY pos) AS content
       FROM (
         SELECT doc_id, pos, word,
           CAST(sum(CASE WHEN word = 'table' THEN 1 ELSE 0 END) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg
         FROM (
           SELECT doc_id, i AS pos, string_split(text, ' ')[i] AS word
           FROM documents, unnest(generate_series(1, len(string_split(text, ' ')))) AS t(i)))
       GROUP BY doc_id, seg ORDER BY doc_id, seg"""

  /** t07 — forward content repair (SURVEY §2.5 W4, mainTesting.py:648-658):
    * a segment whose body (tokens minus the heading itself) is empty
    * borrows the next segment's body; the final fallback is the '-'
    * sentinel (P12, fillna("-")). From [[segments]]'s `repaired`.
    */
  private def t07(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    segments(Tables.table(s, d, "documents"))
      .select($"doc_id", $"seg", $"repaired")
      .orderBy($"doc_id", $"seg")
  }
  private val t07Sql =
    """SELECT doc_id, seg,
         coalesce(body, lead(body, 1) OVER (PARTITION BY doc_id ORDER BY seg), '-') AS repaired
       FROM (
         SELECT doc_id, seg,
           string_agg(CASE WHEN word <> 'table' THEN word END, ' ' ORDER BY pos) AS body
         FROM (
           SELECT doc_id, pos, word,
             CAST(sum(CASE WHEN word = 'table' THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg
           FROM (
             SELECT doc_id, i AS pos, string_split(text, ' ')[i] AS word
             FROM documents, unnest(generate_series(1, len(string_split(text, ' ')))) AS t(i)))
         GROUP BY doc_id, seg)
       ORDER BY doc_id, seg"""

  /** t08 — prefix normalization + null sentinel (P13 "PT " prepend,
    * mainTesting.py:418-419; P12 fillna; F14 null test): non-'en' langs
    * get a region prefix, a nullified branch exercises the sentinel.
    */
  private def t08(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("lang_norm",
        when($"lang".startsWith("en"), $"lang")
          .otherwise(concat(lit("xx-"), $"lang")))
      .withColumn("en_only", when($"lang" === "en", $"lang"))
      .withColumn("en_filled", coalesce($"en_only", lit("-")))
      .groupBy($"lang_norm", $"en_filled")
      .agg(count(lit(1)).as("n"), sum(($"en_only".isNull).cast("int")).as("n_null"))
      .orderBy($"lang_norm")
  }
  private val t08Sql =
    """SELECT CASE WHEN lang LIKE 'en%' THEN lang ELSE 'xx-' || lang END AS lang_norm,
         coalesce(CASE WHEN lang = 'en' THEN lang END, '-') AS en_filled,
         count(*) AS n,
         CAST(sum(CAST(CASE WHEN lang = 'en' THEN lang END IS NULL AS INT)) AS BIGINT) AS n_null
       FROM documents GROUP BY 1, 2 ORDER BY lang_norm"""

  /** t09 — PII redaction (training-data curation: strip emails, phone
    * numbers, IP addresses before anything ships to a training set).
    * The fixture text has no PII, so — like t01's mess-then-clean
    * round trip — deterministic PII is injected first and the redaction
    * chain must remove every planted token; counts of each kind are
    * part of the checked result. Plain regexp_replace chains: codegen,
    * map-only, one corpus pass at any scale. Patterns stay in the
    * RE2 ∩ Java-regex subset so both engines agree exactly.
    */
  private def t09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emailPat = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phonePat = "\\b\\d{3}-\\d{4}\\b"
    val ipPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    Tables.documents(s, d)
      .withColumn("dirty", concat($"text",
        lit(" contact u"), $"doc_id", lit("@example.com or 555-01"),
        format_string("%02d", $"doc_id" % 100),
        lit(" at 10.0."), ($"doc_id" % 256).cast("string"), lit(".7")))
      .withColumn("n_emails", size(regexp_extract_all($"dirty", lit(emailPat), lit(0))).cast("long"))
      .withColumn("n_phones", size(regexp_extract_all($"dirty", lit(phonePat), lit(0))).cast("long"))
      .withColumn("n_ips", size(regexp_extract_all($"dirty", lit(ipPat), lit(0))).cast("long"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace($"dirty",
          emailPat, "<EMAIL>"), ipPat, "<IP>"), phonePat, "<PHONE>"))
      .withColumn("clean", !$"redacted".rlike(emailPat) &&
        !$"redacted".rlike(phonePat) && !$"redacted".rlike(ipPat))
      .select($"doc_id", $"n_emails", $"n_phones", $"n_ips", $"clean", $"redacted")
      .orderBy($"doc_id")
  }
  private val t09Sql =
    """SELECT doc_id,
         CAST(len(regexp_extract_all(dirty, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}', 0)) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(dirty, '\b\d{3}-\d{4}\b', 0)) AS BIGINT) AS n_phones,
         CAST(len(regexp_extract_all(dirty, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', 0)) AS BIGINT) AS n_ips,
         NOT (regexp_matches(redacted, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')
           OR regexp_matches(redacted, '\b\d{3}-\d{4}\b')
           OR regexp_matches(redacted, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS clean,
         redacted
       FROM (
         SELECT doc_id, dirty,
           regexp_replace(regexp_replace(regexp_replace(dirty,
             '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted
         FROM (
           SELECT doc_id,
             text || ' contact u' || doc_id || '@example.com or 555-01' ||
             format('{:02d}', doc_id % 100) || ' at 10.0.' ||
             CAST(doc_id % 256 AS VARCHAR) || '.7' AS dirty
           FROM documents))
       ORDER BY doc_id"""

  /** t10 — overlapping token-window chunking (the pre-tokenization
    * split every LM training pipeline runs: fixed window, fixed stride,
    * tail chunks kept). Entirely map-side — chunk starts come from
    * `sequence(1, n, stride)` and each chunk is an array slice, so a
    * 100 TB corpus chunks inside the scan with no shuffle at all; the
    * only wide op is the final deterministic ORDER BY for the gate. */
  private def t10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val win = 32
    val stride = 24
    Tables.documents(s, d)
      .withColumn("toks", split($"text", " "))
      .select($"doc_id", posexplode(
        transform(sequence(lit(1), size($"toks"), lit(stride)),
          st => array_join(slice($"toks", st, lit(win)), " "))))
      .select($"doc_id", $"pos".cast("long").as("chunk_idx"),
        $"col".as("chunk_text"),
        (size(split($"col", " "))).cast("long").as("n_tokens"))
      .orderBy($"doc_id", $"chunk_idx")
  }
  private val t10Sql =
    """SELECT doc_id, i - 1 AS chunk_idx,
         array_to_string(list_slice(l, s, s + 31), ' ') AS chunk_text,
         CAST(len(list_slice(l, s, s + 31)) AS BIGINT) AS n_tokens
       FROM (
         SELECT doc_id, l, i, 1 + (i - 1) * 24 AS s
         FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           unnest(generate_series(1, 1 + (len(l) - 1) // 24)) AS t(i))
       ORDER BY doc_id, chunk_idx"""

  /** t11 — sequence packing (training-batch construction): documents
    * are laid end-to-end per language in doc_id order and each doc is
    * assigned to the fixed-budget training sequence its first token
    * lands in (concat-then-chunk bookkeeping — a doc may straddle the
    * boundary; it belongs to the bin it starts in). The running total
    * is a window sum PARTITIONED by lang, so each language packs
    * independently — no global sort; at 100 TB you'd shard further
    * (lang, hash-bucket) the same way, because packing only needs a
    * stable order WITHIN a shard, not across the corpus. All integer
    * arithmetic — bit-exact across engines. */
  private def t11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"lang").orderBy($"doc_id")
    Tables.documents(s, d)
      .withColumn("tok", size(regexp_extract_all($"text", lit("[^ ]+"), lit(0))).cast("long"))
      .withColumn("start", sum($"tok").over(w) - $"tok")
      .withColumn("seq_id", expr("start div 512"))
      .groupBy($"lang", $"seq_id")
      .agg(count(lit(1)).as("n_docs"), sum($"tok").as("sum_tokens"))
      .orderBy($"lang", $"seq_id")
  }
  private val t11Sql =
    """SELECT lang, seq_id, count(*) AS n_docs,
         CAST(sum(tok) AS BIGINT) AS sum_tokens
       FROM (
         SELECT lang, CAST(CAST(cum - tok AS BIGINT) // 512 AS BIGINT) AS seq_id, tok
         FROM (
           SELECT lang, doc_id, tok,
             sum(tok) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
           FROM (SELECT lang, doc_id,
                   len(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
                 FROM documents)))
       GROUP BY lang, seq_id ORDER BY lang, seq_id"""

  /** t12 — Unicode NFC normalization via the native codegen'd
    * Expression (graft.functions.NfcNormalize): the corpus text is
    * salted with DECOMPOSED sequences (e + combining acute U+0301,
    * A + combining ring U+030A) that canonical composition must
    * collapse, then normalized. Character counts before/after prove
    * real composition happened (each combining pair shrinks by one),
    * and the full normalized string is hash-checked against DuckDB's
    * nfc_normalize. Map-only — zero shuffles before the ordered
    * output; the already-NFC fast path makes the pass near-free on
    * clean ASCII corpora.
    */
  private def t12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      // decomposed salt: e+U+0301, A+U+030A, o+U+0308 — written as
      // escapes so an editor can't silently recompose the source file
      .withColumn("raw", concat($"text",
        lit(" cafe\u0301 A\u030Angstro\u0308m")))
      .select($"doc_id",
        graft.functions.NfcNormalize.nfcNormalize($"raw").as("norm"),
        length($"raw").cast("long").as("len_raw"))
      .withColumn("len_norm", length($"norm").cast("long"))
      .orderBy($"doc_id")
  }
  private val t12Sql =
    """SELECT doc_id,
         nfc_normalize(raw) AS norm,
         CAST(length(raw) AS BIGINT) AS len_raw,
         CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_norm
       FROM (SELECT doc_id,
               text || ' cafe' || chr(769) || ' A' || chr(778) ||
                 'ngstro' || chr(776) || 'm' AS raw
             FROM documents)
       ORDER BY doc_id"""

  val queries: Map[String, QueryFn] = Map(
    "t12_nfc_normalize" -> t12 _,
    "t10_chunking" -> t10 _,
    "t11_sequence_packing" -> t11 _,
    "t01_clean_roundtrip" -> t01 _,
    "t09_pii_redaction" -> t09 _,
    "t02_predicates" -> t02 _,
    "t03_regex_extract" -> t03 _,
    "t04_split_access" -> t04 _,
    "t05_token_explode" -> t05 _,
    "t06_segmentation" -> t06 _,
    "t07_content_repair" -> t07 _,
    "t08_prefix_null_norm" -> t08 _,
  )

  val oracle: Map[String, String] = Map(
    "t12_nfc_normalize" -> t12Sql,
    "t11_sequence_packing" -> t11Sql,
    "t01_clean_roundtrip" -> t01Sql,
    "t09_pii_redaction" -> t09Sql,
    "t10_chunking" -> t10Sql,
    "t02_predicates" -> t02Sql,
    "t03_regex_extract" -> t03Sql,
    "t04_split_access" -> t04Sql,
    "t05_token_explode" -> t05Sql,
    "t06_segmentation" -> t06Sql,
    "t07_content_repair" -> t07Sql,
    "t08_prefix_null_norm" -> t08Sql,
  )
}
