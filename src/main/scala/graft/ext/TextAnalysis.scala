package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing.h60
import graft.queries.QueryModule
import graft.sources.Tables

/** Text-analysis operators for training-data curation (north-star
  * extension): language identification, quality scoring, token
  * counting, and document fingerprinting — the per-document scoring
  * pass every corpus pipeline runs before filtering.
  *
  * Scale notes: all four are map-side only (per-document functions of
  * the text column) until their final small aggregation; no UDFs — the
  * scoring math is higher-order functions + regexes inside codegen, so
  * a 100 TB corpus pass is a single scan with full predicate pruning
  * available upstream.
  */
object TextAnalysis extends QueryModule {

  /** a17's scored table is read twice: by the approxQuantile bounds pass
    * and by the ranking query. */
  private val slots = new graft.util.PersistSlots

  /** The corpus TERM FREQUENCIES at `d` — distinct (doc_id, word, cnt),
    * cnt = the word's occurrence count in the document — a derived
    * artifact: five queries (a09's tf, a10/a17's LM scoring, the d04/d09
    * simhash votes) share the explode-split-aggregate, and its output is
    * vocabulary×docs-sized (~116 k rows ≈ 1 MB parquet at sf0.1). EMPTY-
    * STRING tokens are kept (split of adjacent spaces): a09/d04/d09 count
    * them like the raw explode did; a10/a17 filter them. Occurrence-level
    * aggregates recompose exactly: Σ_occurrences f(word) =
    * Σ_(doc,word) cnt·f(word) — integer-exact for counts/votes; the LM
    * means use the cnt-weighted form (see a10). */
  private[graft] def wordCounts(s: SparkSession, d: String): DataFrame =
    s.read.parquet(graft.util.Scratch.derived(s, "wordcounts", d,
        Seq(Tables.path(d, "documents"))) { out =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("cnt"))
        .write.parquet(out)
    })

  /** Marker-word lists per language (n-gram-heuristic stand-in; the
    * fixture vocabulary is shared so the *mechanism* — count marker
    * hits per language, argmax with deterministic tie-break — is the
    * tested artifact, as real lexicons would be plugged in here). */
  private val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "fast", "slow"),
    "de" -> Seq("data", "batch", "hash"),
    "es" -> Seq("line", "part", "row"),
    "zh" -> Seq("vector", "stream", "window"))

  /** Exact-token occurrence count as ONE codegen'd regex pass: Spark's
    * higher-order array functions (filter + lambda) are CodegenFallback
    * — interpreted per element — and they dominated a01/a05 wall time
    * (3.1 s for a map-only scan). Lookarounds keep token-equality
    * semantics on space-joined text without consuming the delimiter,
    * so adjacent hits ("a a a") all count. */
  private def tokenHits(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(concat(lit(" "), text, lit(" ")),
      lit(s"(?<= )(${words.mkString("|")})(?= )"), lit(0)))

  /** All four languages' markers extracted in ONE pass (the lists are
    * disjoint); per-language scores then filter the tiny hit array
    * (tens of elements), so the interpreted lambda cost is negligible
    * — the 2 MB text is scanned once, not four times. */
  private def allMarkerHits(text: Column): Column =
    regexp_extract_all(concat(lit(" "), text, lit(" ")),
      lit(s"(?<= )(${markers.values.flatten.mkString("|")})(?= )"), lit(0))

  private def langScore(hits: Column, lang: String): Column =
    size(filter(hits, t => array_contains(array(markers(lang).map(lit): _*), t)))

  /** Tokens of length 1-2 via the same single-pass trick. Matches only
    * NON-EMPTY runs, so irregular whitespace (double/leading/trailing
    * spaces) contributes nothing — every token count in this module uses
    * the same non-empty-token definition (see nTokens) so ratios stay
    * consistent with their denominators on arbitrary spacing. */
  private def shortHits(text: Column): Column =
    size(regexp_extract_all(concat(lit(" "), text, lit(" ")),
      lit("(?<= )[^ ]{1,2}(?= )"), lit(0)))

  /** Non-empty whitespace-token count. `split(' ')` yields "" tokens on
    * consecutive/leading/trailing spaces, which the regex-based hit
    * counters above can never match — counting tokens as non-empty runs
    * keeps numerator and denominator of every ratio agreeing with the
    * DuckDB oracles on arbitrary whitespace (oracles filter x <> ''). */
  private def nTokens(text: Column): Column =
    size(regexp_extract_all(text, lit("[^ ]+"), lit(0)))

  /** PUBLIC operator: predicted-language column for any text Column —
    * marker-hit argmax with the deterministic en > de > es > zh
    * tie-break. Integer scores, one regex pass, no UDF; plug real
    * per-language lexicons into `markers` for production use. */
  def languageOf(text: Column): Column = {
    val mk = allMarkerHits(text)
    val (sEn, sDe, sEs, sZh) = (langScore(mk, "en"), langScore(mk, "de"),
      langScore(mk, "es"), langScore(mk, "zh"))
    when(sEn >= sDe && sEn >= sEs && sEn >= sZh, "en")
      .when(sDe >= sEs && sDe >= sZh, "de")
      .when(sEs >= sZh, "es")
      .otherwise("zh")
  }

  /** a01 — language ID by marker-hit argmax (deterministic priority
    * tie-break en > de > es > zh), reported as a confusion matrix
    * against the labeled lang column. Integer scores — no float compare.
    */
  private def a01(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("predicted", languageOf($"text"))
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"predicted")
  }
  private def hitsSql(lang: String): String = {
    val lst = markers(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), x -> list_contains([$lst], x)))"
  }
  /** DuckDB expression replaying `languageOf` over a `text` column —
    * shared by the a01 oracle and the SQL-surface gate's (x07). */
  private[graft] lazy val predictedCaseSql: String =
    s"""CASE
         WHEN ${hitsSql("en")} >= ${hitsSql("de")} AND ${hitsSql("en")} >= ${hitsSql("es")} AND ${hitsSql("en")} >= ${hitsSql("zh")} THEN 'en'
         WHEN ${hitsSql("de")} >= ${hitsSql("es")} AND ${hitsSql("de")} >= ${hitsSql("zh")} THEN 'de'
         WHEN ${hitsSql("es")} >= ${hitsSql("zh")} THEN 'es'
         ELSE 'zh' END"""

  /** DuckDB expression replaying `qualityScore` over a token-list
    * column `l` (empty strings filtered) — shared by the a02 oracle
    * and the SQL-surface gate's (x07). */
  private[graft] lazy val qualityFromListSql: String =
    """round(1.0
         - (CAST(len(list_filter(l, x -> strlen(x) <= 2)) AS DOUBLE) / len(l)) * 0.5
         - (CAST(len(list_filter(l, x -> list_contains(['the','a','of','and'], x))) AS DOUBLE) / len(l)) * 0.3
         + least(CAST(len(l) AS DOUBLE) / 100.0, 1.0) * 0.2, 6)"""

  private val a01Sql =
    s"""SELECT lang, predicted, count(*) AS n FROM (
         SELECT lang, $predictedCaseSql AS predicted
         FROM documents)
       GROUP BY lang, predicted ORDER BY lang, predicted"""

  /** PUBLIC operator: the C4/Gopher-style quality score for any text
    * Column — 1 − short-token ratio·0.5 − stopword ratio·0.3 + capped
    * length bonus·0.2, rounded at 6. Pure codegen'd regex counting; no
    * UDF. */
  def qualityScore(text: Column): Column = {
    val n = nTokens(text).cast("long")
    val stop = tokenHits(text, Seq("the", "a", "of", "and")).cast("double") / n
    val short = shortHits(text).cast("double") / n
    round(lit(1.0) - short * 0.5 - stop * 0.3 +
      least(n.cast("double") / 100.0, lit(1.0)) * 0.2, 6)
  }

  /** a02 — quality scoring: length/stopword/word-shape ratios combined
    * into one score (the C4/Gopher-style filter signal). Same formula,
    * same operation order on both engines.
    */
  private def a02(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("n_tokens", nTokens($"text").cast("long"))
      .withColumn("mean_wlen", ($"n_chars" - ($"n_tokens" - 1)).cast("double") / $"n_tokens")
      .withColumn("stop_ratio",
        tokenHits($"text", Seq("the", "a", "of", "and")).cast("double") / $"n_tokens")
      .withColumn("quality", qualityScore($"text"))
      .select($"doc_id", $"n_tokens", round($"mean_wlen", 4).as("mean_wlen"),
        round($"stop_ratio", 4).as("stop_ratio"), $"quality")
      .orderBy($"doc_id")
  }
  // quality from the SHARED expression (qualityFromListSql) so the a02
  // and x07 oracles can never drift apart on the scoring constants
  private val a02Sql =
    s"""SELECT doc_id, n_tokens, round(mean_wlen, 4) AS mean_wlen,
         round(stop_ratio, 4) AS stop_ratio, quality
       FROM (
         SELECT doc_id, len(l) AS n_tokens,
           CAST(n_chars - (len(l) - 1) AS DOUBLE) / len(l) AS mean_wlen,
           CAST(len(list_filter(l, x -> list_contains(['the','a','of','and'], x))) AS DOUBLE) / len(l) AS stop_ratio,
           $qualityFromListSql AS quality
         FROM (SELECT doc_id, n_chars,
                 list_filter(string_split(text, ' '), x -> x <> '') AS l
               FROM documents))
       ORDER BY doc_id"""

  /** a03 — token counting three ways: whitespace words, BPE-ish regex
    * chunks (letter runs capped at 4 chars — a stand-in for subword
    * merges), and the chars/4 estimate; aggregated per language.
    */
  private def a03(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("ws_tokens", nTokens($"text"))
      .withColumn("bpe_tokens", size(regexp_extract_all($"text", lit("[a-z]{1,4}"), lit(0))))
      .withColumn("est_tokens", ceil($"n_chars" / 4.0).cast("long"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"ws_tokens").as("sum_ws"),
        sum($"bpe_tokens").as("sum_bpe"),
        sum($"est_tokens").as("sum_est"))
      .orderBy($"lang")
  }
  private val a03Sql =
    """SELECT lang, count(*) AS n_docs,
         CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS sum_ws,
         CAST(sum(len(regexp_extract_all(text, '[a-z]{1,4}', 0))) AS BIGINT) AS sum_bpe,
         CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS sum_est
       FROM documents GROUP BY lang ORDER BY lang"""

  /** a04 — positional polynomial fingerprint: sum over positions of
    * pos * (h(word) mod 1e9+7). Order- and content-sensitive, pure
    * integer arithmetic (bounded well under 2^63), identical in the
    * oracle. The ' dup'-suffixed twins get distinct fingerprints; exact
    * copies collide — group sizes expose them.
    */
  private def a04(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fp = Tables.documents(s, d)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos0", "word")))
      .withColumn("h", h60(concat(lit("f:"), $"word")) % 1000000007L)
      .groupBy($"doc_id")
      .agg(sum(($"pos0" + 1) * $"h").as("fingerprint"))
    val groups = fp.groupBy($"fingerprint").agg(count(lit(1)).as("n_same"))
    fp.join(groups, "fingerprint")
      .select($"doc_id", $"fingerprint", $"n_same")
      .orderBy($"doc_id")
  }
  private val a04Sql =
    """WITH fp AS (
         SELECT doc_id,
           CAST(sum(pos * (CAST('0x' || substr(md5('f:' || w), 1, 15) AS BIGINT) % 1000000007)) AS BIGINT) AS fingerprint
         FROM (
           SELECT doc_id, i AS pos, string_split(text, ' ')[i] AS w
           FROM documents, unnest(generate_series(1, len(string_split(text, ' ')))) AS t(i))
         GROUP BY doc_id),
       groups AS (SELECT fingerprint, count(*) AS n_same FROM fp GROUP BY fingerprint)
       SELECT doc_id, fingerprint, n_same
       FROM fp JOIN groups USING (fingerprint)
       ORDER BY doc_id"""

  /** a05 — the composed curation pass a real pipeline runs: language
    * gate (a01's argmax) → quality gate (a02's score ≥ 0.75) →
    * deterministic hash subsample (e09's mechanism: md5-derived bucket,
    * reproducible across runs AND engines — never rand()) → corpus
    * budget summary (docs kept, token budget, mean quality). One scan,
    * all three gates fused by Catalyst into the same stage — the
    * filters cost one pass at 100 TB, not three.
    */
  private def a05(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // built from the PUBLIC scorers — the composed pass is exactly what
    // a library user would write
    Tables.documents(s, d)
      .filter(languageOf($"text") === "en")
      .withColumn("n_tokens", nTokens($"text").cast("long"))
      .withColumn("quality", qualityScore($"text"))
      .filter($"quality" >= 0.75)
      .filter(h60(concat(lit("s:"), $"doc_id")) % 100 < 50)
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("sum_tokens"),
        round(avg($"quality"), 6).as("avg_quality"))
  }
  private val a05Sql =
    s"""SELECT count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         round(avg(quality), 6) AS avg_quality
       FROM (
         SELECT doc_id, len(l) AS n_tokens,
           round(1.0
             - (CAST(len(list_filter(l, x -> strlen(x) <= 2)) AS DOUBLE) / len(l)) * 0.5
             - (CAST(len(list_filter(l, x -> list_contains(['the','a','of','and'], x))) AS DOUBLE) / len(l)) * 0.3
             + least(CAST(len(l) AS DOUBLE) / 100.0, 1.0) * 0.2, 6) AS quality
         FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS l
               FROM documents
               WHERE ${hitsSql("en")} >= ${hitsSql("de")}
                 AND ${hitsSql("en")} >= ${hitsSql("es")}
                 AND ${hitsSql("en")} >= ${hitsSql("zh")}))
       WHERE quality >= 0.75
         AND CAST('0x' || substr(md5('s:' || doc_id), 1, 15) AS BIGINT) % 100 < 50"""

  /** a06 — corpus n-gram statistics: the 20 most frequent bigrams with
    * document frequency (how many distinct docs contain each) — the LM
    * corpus-health report (boilerplate and templated text surface as
    * high-count bigrams with high doc frequency). Bigrams form map-side
    * as an array transform (no self-join of token positions); the
    * aggregate shuffles (bigram, doc) pairs once; top-20 is a
    * TakeOrderedAndProject, never a global sort.
    */
  private def a06(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bi = Tables.documents(s, d)
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(transform(
        sequence(lit(1), size($"toks") - 1),
        i => concat_ws(" ", element_at($"toks", i), element_at($"toks", i + 1)))).as("bigram"))
    bi.groupBy($"bigram")
      .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("df"))
      .orderBy($"n".desc, $"bigram")
      .limit(20)
  }
  private val a06Sql =
    """SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS df
       FROM (
         SELECT doc_id, l[i] || ' ' || l[i+1] AS bigram
         FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           unnest(generate_series(1, len(l) - 1)) AS t(i)
         WHERE len(l) >= 2)
       GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20"""

  /** a07 — per-document repetition statistics (the Gopher-rules family
    * of repetition filters from published LM-corpus curation, word-level
    * form): fraction of bigram occurrences taken by the single most
    * frequent bigram, and fraction that are repeats of an already-seen
    * bigram. Heavily templated / looping documents score high on both
    * and get filtered before training. Same map-side bigram transform
    * as a06; first aggregate is (doc, bigram) with map-side partials,
    * second collapses to one row per doc — both shuffle only small
    * count tuples, never the text. */
  private def a07(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bi = Tables.documents(s, d)
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(transform(
        sequence(lit(1), size($"toks") - 1),
        i => concat_ws(" ", element_at($"toks", i), element_at($"toks", i + 1)))).as("bigram"))
    bi.groupBy($"doc_id", $"bigram").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_bigrams"),
        round(max($"c") / sum($"c"), 6).as("top_bigram_frac"),
        round((sum($"c") - count(lit(1))) / sum($"c"), 6).as("dup_bigram_frac"))
      .orderBy($"doc_id")
  }
  private val a07Sql =
    """SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_frac,
         round((CAST(sum(c) AS DOUBLE) - CAST(count(*) AS DOUBLE))
               / CAST(sum(c) AS DOUBLE), 6) AS dup_bigram_frac
       FROM (
         SELECT doc_id, bigram, count(*) AS c
         FROM (
           SELECT doc_id, l[i] || ' ' || l[i+1] AS bigram
           FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             unnest(generate_series(1, len(l) - 1)) AS t(i)
           WHERE len(l) >= 2)
         GROUP BY doc_id, bigram)
       GROUP BY doc_id ORDER BY doc_id"""

  /** a08 — stratified deterministic sampling (train-mix construction:
    * different keep-rates per language, reproducible across runs and
    * engines because the sampling key is a salted md5 of the doc id,
    * not an RNG). Map-side filter + one tiny per-language aggregate;
    * at 100 TB this is how a pipeline downsamples dominant languages
    * without a shuffle or a seed-ordering hazard. */
  private def a08(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bucket = h60(concat(lit("strat:"), $"doc_id")) % 100
    val rate = when($"lang" === "en", 50).otherwise(20)
    Tables.documents(s, d)
      .withColumn("kept", bucket < rate)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"))
      .orderBy($"lang")
  }
  private val a08Sql =
    """SELECT lang, count(*) AS n_docs,
         CAST(sum(CASE WHEN ('0x' || substr(md5('strat:' || doc_id), 1, 15))::BIGINT % 100
                       < (CASE WHEN lang = 'en' THEN 50 ELSE 20 END)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       FROM documents GROUP BY lang ORDER BY lang"""

  /** a09 — TF-IDF top terms per document (classic ranking signal, and
    * the shape of every vocabulary-weighted scoring pass). Term
    * frequencies aggregate once on (doc, word); document frequencies
    * are a SMALL vocabulary-sized table joined back broadcast, so the
    * corpus shuffles only its (doc, word, count) tuples — never text.
    * Per-doc top-3 is a row_number window keyed by doc_id: millions of
    * small partitions, no skew (contrast w08's global-sort hazard). */
  private def a09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    // tf IS the per-dir word-count artifact (identical integers by
    // construction) — read twice (df branch + scored branch) at
    // ~1 MB/scan instead of re-running the corpus explode per branch.
    // (The r15 negative result on PERSISTING tf — cold columnar-cache
    // regression — concerned the in-memory cache, not a parquet
    // artifact shared across the suite.)
    val tf = wordCounts(s, d).select($"doc_id", $"word", $"cnt".as("tf"))
    val df = tf.groupBy($"word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(df), "word")
      .crossJoin(broadcast(n))
      .withColumn("score", $"tf" * log($"n_docs" / $"df"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"score".desc, $"word")))
      .filter($"rk" <= 3)
      .select($"doc_id", $"rk".cast("long").as("rk"), $"word",
        round($"score", 4).as("tfidf"))
      .orderBy($"doc_id", $"rk")
  }
  private val a09Sql =
    """WITH tf AS (
         SELECT doc_id, word, count(*) AS tf
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents)
         GROUP BY doc_id, word),
       dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
       n AS (SELECT count(*) AS n_docs FROM documents),
       scored AS (
         SELECT doc_id, word,
           tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score
         FROM tf JOIN dfreq USING (word), n)
       SELECT doc_id, rk, word, tfidf FROM (
         SELECT doc_id, word,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, word) AS rk,
           round(score, 4) AS tfidf
         FROM scored)
       WHERE rk <= 3 ORDER BY doc_id, rk"""

  /** a10 — unigram language-model scoring (the corpus-statistical form
    * of perplexity filtering: docs whose tokens are improbable under
    * the corpus's own unigram distribution are outliers — boilerplate,
    * noise, wrong-language). The LM is derived from the corpus itself:
    * token frequencies over all documents, P(w) = count(w)/N. Per-doc
    * score = mean log P(w); ppl = exp(-score).
    *
    * Scale: the LM table is vocabulary-sized (Zipf: tiny vs corpus) —
    * built with one (word) aggregation whose shuffle carries words not
    * text, then broadcast back; the scoring pass is a map-side join +
    * per-doc aggregate keyed by doc_id. A 100 TB corpus = two scans of
    * the token stream and no large-side shuffle. (With a pre-trained
    * LM the first scan disappears — the frequency table is just read
    * and broadcast.)
    */
  private def a10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the token stream never re-explodes: both the LM rollup and the
    // per-doc scoring derive from the word-count artifact. The per-doc
    // mean log-probability is the cnt-WEIGHTED mean over distinct
    // (doc, word) rows — Σ tf·logp / Σ tf — which is the same sum the
    // occurrence-level avg() accumulated term-for-term (tf identical
    // logp values each); the round(…, 4/2) guards absorb the one-ulp
    // reassociation like they already absorbed partition-order
    // variation, verified by the oracle gate at all three SFs.
    val wc = wordCounts(s, d).filter($"word" =!= "")
      .select($"doc_id", $"word", $"cnt".as("tf"))
    val lm = wc.groupBy($"word").agg(sum($"tf").as("cnt"))
    val n = lm.agg(sum($"cnt").as("n_total"))
    wc.join(broadcast(lm), "word")
      .crossJoin(broadcast(n))
      .withColumn("logp", log($"cnt" / $"n_total"))
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_tokens"),
        round(sum($"tf" * $"logp") / sum($"tf"), 4).as("avg_logp"),
        round(exp(-(sum($"tf" * $"logp") / sum($"tf"))), 2).as("ppl"))
      .orderBy($"doc_id")
  }
  private val a10Sql =
    """WITH tok AS (
         SELECT doc_id, word
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents)
         WHERE word <> ''),
       lm AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
       n AS (SELECT count(*) AS n_total FROM tok)
       SELECT doc_id, count(*) AS n_tokens,
         round(avg(ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE))), 4) AS avg_logp,
         round(exp(-avg(ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE)))), 2) AS ppl
       FROM tok JOIN lm USING (word), n
       GROUP BY doc_id ORDER BY doc_id"""

  /** a11 — per-source DUPLICATION report: the curation dashboard view
    * of d01's exact dedup — for each ingest source, how many documents
    * it contributed, how many are redundant copies (their canonical
    * hash group keeps a lower doc_id), and the redundancy rate. This is
    * the number that decides which crawl/feed gets deprioritized at
    * 100 TB; shuffle profile is d01's (32-byte hash keys, never
    * content) plus a broadcast-sized rollup by source.
    */
  private def a11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val canon = Tables.documents(s, d)
      .withColumn("h", sha2(regexp_replace($"text", "( dup)+$", ""), 256))
    val keepers = canon.groupBy($"h").agg(min($"doc_id").as("kept_doc"))
    canon.join(keepers, "h")
      .withColumn("is_dup", ($"doc_id" =!= $"kept_doc").cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"is_dup").as("n_dups"))
      .withColumn("dup_rate", round($"n_dups" / $"n_docs", 6))
      .orderBy($"source")
  }
  private val a11Sql =
    """WITH canon AS (
         SELECT doc_id, source,
           sha256(regexp_replace(text, '( dup)+$', '')) AS h
         FROM documents),
       keepers AS (SELECT h, min(doc_id) AS kept_doc FROM canon GROUP BY h)
       SELECT source, count(*) AS n_docs,
         CAST(sum(CASE WHEN doc_id <> kept_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         round(sum(CASE WHEN doc_id <> kept_doc THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS dup_rate
       FROM canon JOIN keepers USING (h)
       GROUP BY source ORDER BY source"""

  /** a12 — PII DETECT + SCRUB: the redaction pass a training corpus
    * runs before text reaches a model — find emails / phone numbers /
    * IPv4 addresses, count them per document (the audit trail), and
    * emit a digest of the scrubbed text (the proof the redaction
    * actually happened, hash-checked end to end by the gate). The
    * synthetic corpus carries no PII, so the query first INJECTS
    * deterministic PII derived from doc_id — the oracle computes the
    * identical injection, so what the gate certifies is the
    * detection+scrub path, not the fixture. Everything is per-row
    * map-side regex work (codegen'd regexp_count/regexp_replace, no
    * UDF); at 100 TB this is one scan, zero shuffles before the
    * gate-sized ORDER BY. Patterns are written in the RE2-compatible
    * subset (\d, \b, classes) so Spark's Java regex and DuckDB's RE2
    * agree by construction.
    */
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phonePat = "\\+62 8\\d{2}-\\d{4}-\\d{4}"
  private val ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private def a12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pii = Tables.documents(s, d).select($"doc_id", concat(
      $"text",
      when($"doc_id" % 3 === 0,
        concat(lit(" contact u"), $"doc_id".cast("string"),
          lit("@mail.example.com"))).otherwise(""),
      when($"doc_id" % 5 === 0,
        concat(lit(" call +62 812-"), ($"doc_id" % 1000 + 4000).cast("string"),
          lit("-"), ($"doc_id" % 2000 + 7000).cast("string"))).otherwise(""),
      when($"doc_id" % 7 === 0,
        concat(lit(" src 10."), ($"doc_id" % 250).cast("string"),
          lit(".3.44"))).otherwise("")).as("t"))
    pii.select($"doc_id",
        regexp_count($"t", lit(emailPat)).cast("long").as("n_emails"),
        regexp_count($"t", lit(phonePat)).cast("long").as("n_phones"),
        regexp_count($"t", lit(ipv4Pat)).cast("long").as("n_ips"),
        md5(regexp_replace(regexp_replace(regexp_replace($"t",
          emailPat, "[EMAIL]"), phonePat, "[PHONE]"), ipv4Pat, "[IP]"))
          .as("clean_md5"))
      .orderBy($"doc_id")
  }
  private val a12Sql =
    s"""WITH pii AS (
         SELECT doc_id, text
           || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN ' call +62 812-' || CAST(doc_id % 1000 + 4000 AS VARCHAR) || '-' || CAST(doc_id % 2000 + 7000 AS VARCHAR) ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN ' src 10.' || CAST(doc_id % 250 AS VARCHAR) || '.3.44' ELSE '' END
           AS t
         FROM documents)
       SELECT doc_id,
         CAST(len(regexp_extract_all(t, '$emailPat')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(t, '$phonePat')) AS BIGINT) AS n_phones,
         CAST(len(regexp_extract_all(t, '$ipv4Pat')) AS BIGINT) AS n_ips,
         md5(regexp_replace(regexp_replace(regexp_replace(t,
           '$emailPat', '[EMAIL]', 'g'), '$phonePat', '[PHONE]', 'g'),
           '$ipv4Pat', '[IP]', 'g')) AS clean_md5
       FROM pii ORDER BY doc_id"""

  /** a13 — SEQUENCE PACKING layout (concat-and-chunk): the training
    * layout that concatenates the corpus token stream in a fixed
    * document order and slices it into fixed-budget sequences
    * (budget=512 here), letting documents straddle boundaries. Per doc:
    * token count, global token start offset, and the first/last
    * sequence it occupies — exactly the routing table a packing job
    * needs to ship each doc's tokens to its sequence shards. The
    * global exclusive prefix sum is the scale hazard (a
    * single-partition ORDER BY window serializes the corpus); computed
    * with w09's two-pass range formulation instead — doc_id range
    * bounds (approxQuantile), per-range token totals (a |ranges|-row
    * aggregate) prefix-summed into broadcast offsets, then the
    * per-range cumsum runs in parallel. Bounds only balance work: any
    * doc_id-monotone bucketing yields identical offsets, so sampling
    * error cannot affect the result. The oracle recomputes it with the
    * plain single-window formulation.
    */
  private def a13(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val budget = 512L
    val toks = Tables.documents(s, d)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"))
    val bounds = toks.stat
      .approxQuantile("doc_id", (1 until 16).map(_ / 16.0).toArray, 0.001)
      .distinct.sorted
    val boundsCol = array(bounds.map(lit).toIndexedSeq: _*)
    val bucketed = toks.withColumn("bkt",
      aggregate(boundsCol, lit(0), (acc, b) => acc + ($"doc_id" > b).cast("int")))
    val counts = bucketed.groupBy($"bkt").agg(sum($"n_tok").as("btok"))
    // |ranges| rows — the only single-partition window is over ~16 rows
    val wB = Window.orderBy($"bkt").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts.withColumn("off", coalesce(sum($"btok").over(wB), lit(0L)))
      .select($"bkt", $"off")
    val wL = Window.partitionBy($"bkt").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(offsets), "bkt")
      .withColumn("tok_start", $"off" + coalesce(sum($"n_tok").over(wL), lit(0L)))
      .withColumn("seq_first", expr(s"tok_start div $budget"))
      .withColumn("seq_last", expr(s"(tok_start + n_tok - 1) div $budget"))
      .withColumn("n_seqs", $"seq_last" - $"seq_first" + lit(1L))
      .select($"doc_id", $"n_tok", $"tok_start", $"seq_first", $"seq_last", $"n_seqs")
      .orderBy($"doc_id")
  }
  private val a13Sql =
    """WITH toks AS (
         SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         FROM documents),
       cum AS (
         SELECT doc_id, n_tok,
           CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS tok_start
         FROM toks)
       SELECT doc_id, n_tok, tok_start,
         tok_start // 512 AS seq_first,
         (tok_start + n_tok - 1) // 512 AS seq_last,
         (tok_start + n_tok - 1) // 512 - tok_start // 512 + 1 AS n_seqs
       FROM cum ORDER BY doc_id"""

  /** a14 — temperature-based source mixing: the corpus-composition op
    * of multilingual/multi-source training (mT5/LLaMA style). Raw
    * source shares are flattened by exponent 1/τ (τ=2 ⇒ sampling
    * weight √n_s, since the shared total cancels from the ratio), the
    * per-source sampling probability is w_s/Σw, and the actual draw is
    * the deterministic md5 Bernoulli of e09 at rate min(1, B·p_s/n_s)
    * — reproducible across runs and engines, no RNG state. Everything
    * except the per-doc hash filter runs on the |sources|-row count
    * table (broadcast both ways); the corpus is scanned once and only
    * filtered, so at 100 TB the op costs one scan regardless of the
    * mixing math. Oracle replays weights, targets, AND the sampled
    * counts from the identical hash on identical bytes.
    */
  private def a14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budget = 200.0
    // the fixture's sources are uniform, which would make ANY exponent
    // a no-op; a skewed 8:4:2:2 tier (exact integer arithmetic, so the
    // oracle groups identically) actually exercises the flattening
    val docs = Tables.documents(s, d)
      .withColumn("source",
        when($"doc_id" % 16 < 8, "tier_a")
          .when($"doc_id" % 16 < 12, "tier_b")
          .when($"doc_id" % 16 < 14, "tier_c")
          .otherwise("tier_d"))
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
    val probs = counts.crossJoin(broadcast(
        counts.agg(sum(sqrt($"n_docs".cast("double"))).as("w_sum"))))
      .withColumn("prob", sqrt($"n_docs".cast("double")) / $"w_sum")
      .withColumn("rate",
        least(lit(1.0), lit(budget) * $"prob" / $"n_docs".cast("double")))
    val sampled = docs.select($"source", $"doc_id")
      .join(broadcast(probs.select($"source", $"rate")), "source")
      .filter(h60(concat(lit("mix:"), $"doc_id")) % 1000000L < $"rate" * 1000000.0)
      .groupBy($"source").agg(count(lit(1)).as("n_sampled"))
    probs.join(sampled, Seq("source"), "left")
      .select($"source", $"n_docs",
        round($"prob", 6).as("prob"),
        round(lit(budget) * $"prob").cast("long").as("target"),
        coalesce($"n_sampled", lit(0L)).as("n_sampled"))
      .orderBy($"source")
  }
  private val a14Sql =
    """WITH docs AS (
         SELECT doc_id,
           CASE WHEN doc_id % 16 < 8 THEN 'tier_a'
                WHEN doc_id % 16 < 12 THEN 'tier_b'
                WHEN doc_id % 16 < 14 THEN 'tier_c'
                ELSE 'tier_d' END AS source
         FROM documents),
       counts AS (
         SELECT source, count(*) AS n_docs FROM docs GROUP BY source),
       w AS (SELECT sum(sqrt(CAST(n_docs AS DOUBLE))) AS w_sum FROM counts),
       probs AS (
         SELECT source, n_docs,
           sqrt(CAST(n_docs AS DOUBLE)) / w_sum AS prob,
           least(CAST(1.0 AS DOUBLE),
             200.0 * (sqrt(CAST(n_docs AS DOUBLE)) / w_sum)
               / CAST(n_docs AS DOUBLE)) AS rate
         FROM counts, w),
       sampled AS (
         SELECT d.source, count(*) AS n_sampled
         FROM docs d JOIN probs p ON d.source = p.source
         WHERE CAST('0x' || substr(md5('mix:' || doc_id), 1, 15) AS BIGINT)
                 % 1000000 < rate * 1000000.0
         GROUP BY d.source)
       SELECT p.source, p.n_docs, round(p.prob, 6) AS prob,
         CAST(round(200.0 * p.prob) AS BIGINT) AS target,
         COALESCE(n_sampled, CAST(0 AS BIGINT)) AS n_sampled
       FROM probs p LEFT JOIN sampled USING (source)
       ORDER BY p.source"""

  /** a15 — hashed-feature LINEAR quality classifier (the fastText-style
    * learned filter every corpus pipeline runs after the heuristic
    * gates; CCNet/LLaMA use exactly this shape). Tokens hash into
    * D=1024 feature buckets, the model is a weight per bucket, and the
    * doc score is the sigmoid of the mean token weight. The weights
    * here are a deterministic public FORMULA standing in for trained
    * parameters — w(i) = ((i·2654435761) mod 2048 − 1024)/2048 — so the
    * oracle replays the model exactly; swapping in trained weights
    * changes a lookup, not the plan.
    *
    * Numerics discipline (the g01 integer-micro-unit pattern): the KEEP
    * decision compares the INTEGER weight sum to zero — order-
    * independent, bit-identical in any engine — and floating point
    * appears only in the reported sigmoid, rounded to 1e-6. Scale: the
    * whole op is one map-side pass over the corpus scan (hash, gather,
    * sum per doc) plus a |docs|-row rollup; a trained weight table at
    * D=2^20 would ride along as one broadcast array. */
  private def a15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = split($"text", " ")
    // integer token weight: bucket = h60(tok) % 1024, then the weight
    // formula, all in exact BIGINT arithmetic (max |operand| ~ 2.7e12)
    val wInt = (t: Column) => (h60(t) % 1024L) * 2654435761L % 2048L - 1024L
    Tables.documents(s, d)
      .select($"doc_id",
        aggregate(transform(toks, wInt), lit(0L), (acc, x) => acc + x).as("sum_w"),
        size(toks).cast("long").as("n_toks"))
      .select($"doc_id",
        round(lit(1.0) / (lit(1.0) +
          exp(-$"sum_w" / (lit(2048.0) * $"n_toks"))), 6).as("score"),
        ($"sum_w" >= 0).as("keep"))
      .orderBy($"doc_id")
  }
  private val a15Sql =
    """WITH f AS (
         SELECT doc_id,
           (CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1024)
             * 2654435761 % 2048 - 1024 AS w
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
               FROM documents)),
       sc AS (
         SELECT doc_id, sum(w) AS sum_w, count(*) AS n_toks
         FROM f GROUP BY doc_id)
       SELECT doc_id,
         round(1.0 / (1.0 + exp(-sum_w / (2048.0 * n_toks))), 6) AS score,
         sum_w >= 0 AS keep
       FROM sc ORDER BY doc_id"""

  /** a16 — INTERPOLATED BIGRAM language-model scoring (the Jelinek-
    * Mercer form of a10: P(w2|w1) = 0.75·c(w1w2)/c(w1·) + 0.25·c(w2)/N,
    * with c(w1·) the bigram-start count so the conditional sums to 1).
    * Bigram perplexity separates "plausible words in implausible order"
    * — word salad, shuffled boilerplate, MT artifacts — from the
    * vocabulary-level outliers a10 already catches; the interpolation
    * weight keeps unseen bigrams finite, the standard smoothing before
    * Kneser-Ney. Scale: bigrams pair map-side via arrays_zip of two
    * shifted slices (codegen, no higher-order lambda); both LM tables
    * are vocabulary-shaped (Zipf-small) and broadcast — at a vocabulary
    * too large for broadcast the join degrades gracefully to shuffle on
    * the bigram key, still |tokens| not |tokens|². Two corpus scans
    * total, same envelope as a10.
    */
  private def a16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d).withColumn("toks", split($"text", " "))
    // NOT persisted — measured pessimization (r15): caching the
    // |tokens|-sized two-string-column explode cost MORE to read back
    // (1.25M columnar cache rows per consumer, ~8 s CPU) than
    // re-running the explode from the 5000 compressed source docs
    // (~4.4 s). The cheap fix is below: cw1 derives from cb instead of
    // from a third explosion.
    val big = toks
      .select($"doc_id", explode(arrays_zip(
        slice($"toks", lit(1), size($"toks") - 1),
        slice($"toks", lit(2), size($"toks") - 1))).as("bg"))
      .select($"doc_id", $"bg".getField("0").as("w1"),
        $"bg".getField("1").as("w2"))
      .filter($"w1" =!= "" && $"w2" =!= "")
    val uni = toks.select(explode($"toks").as("word")).filter($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("cu"))
    val n = uni.agg(sum($"cu").as("n_total"))
    val cb = big.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
    // c(w1·) = Σ_{w2} c(w1,w2): roll the bigram-start counts up from
    // the vocabulary-sized cb table instead of re-exploding the corpus
    // a third time — identical value, |bigram-vocab| input (guide
    // §2.3: aggregate before you shuffle / don't recompute upstream)
    val cw1 = cb.groupBy($"w1").agg(sum($"cb").as("cw1"))
    big
      .join(broadcast(cb), Seq("w1", "w2"))
      .join(broadcast(cw1), Seq("w1"))
      .join(broadcast(uni.withColumnRenamed("word", "w2")), Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("logp",
        log(lit(0.75) * $"cb" / $"cw1" + lit(0.25) * $"cu" / $"n_total"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg($"logp"), 4).as("avg_logp"),
        round(exp(-avg($"logp")), 2).as("ppl"))
      .orderBy($"doc_id")
  }
  private val a16Sql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       big AS (
         SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
         FROM t, unnest(generate_series(1, len(l) - 1)) AS u(i)
         WHERE l[i] <> '' AND l[i + 1] <> ''),
       uni AS (
         SELECT word, count(*) AS cu
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE word <> '' GROUP BY word),
       n AS (SELECT CAST(sum(cu) AS BIGINT) AS n_total FROM uni),
       cb AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
       cw1 AS (SELECT w1, count(*) AS cw1 FROM big GROUP BY w1)
       SELECT doc_id, count(*) AS n_bigrams,
         round(avg(ln(0.75 * CAST(cb AS DOUBLE) / cw1
                    + 0.25 * CAST(cu AS DOUBLE) / n_total)), 4) AS avg_logp,
         round(exp(-avg(ln(0.75 * CAST(cb AS DOUBLE) / cw1
                         + 0.25 * CAST(cu AS DOUBLE) / n_total))), 2) AS ppl
       FROM big
       JOIN cb USING (w1, w2) JOIN cw1 USING (w1)
       JOIN uni ON big.w2 = uni.word, n
       GROUP BY doc_id ORDER BY doc_id"""

  /** a17 — PERPLEXITY BUCKETS (the published CCNet curation shape):
    * every document scored under the corpus unigram LM (a10's score,
    * identical arithmetic), then split into head / middle / tail
    * TERCILES of the score distribution, reported per source. Head
    * (most fluent) feeds training as-is, middle gets a second look,
    * tail is dropped or down-sampled — the standard quality-mixing
    * recipe. Bucketing is RANK-based (terciles over the rounded score
    * with doc_id tie-break), not threshold-based: an exact-percentile
    * threshold computed in two engines can land within float noise of
    * a document's score and flip its bucket, while row-number
    * arithmetic over the same total order is engine-exact.
    *
    * The rank is computed with w09's two-pass range-partitioned
    * formulation, never a single-partition window over the corpus:
    * pass 0 samples score range bounds (approxQuantile — ANY
    * score-monotone bucketing yields IDENTICAL ranks; bounds only
    * balance work, so sampling error cannot affect the result), pass 1
    * prefix-sums per-range counts into broadcast rank offsets (a
    * window over |ranges| rows, not |docs|), pass 2 ranks within each
    * range in parallel. (avg_logp DESC, doc_id) is a total order with
    * no ties, so rank = row_number and ntile(3) is closed-form in
    * (rn, n). `a17Ntile` keeps the readable global-window twin;
    * TextAnalysisSpec asserts row equality, PlanAuditSpec pins the
    * absence of an unpartitioned corpus window here. */
  private def a17(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // scored is read twice (bounds pass + ranking query): persist it
    val scored = slots.swap("a17scored", a17Scored(s, d))
    val bounds = scored.stat
      .approxQuantile("avg_logp", (1 until 32).map(_ / 32.0).toArray, 0.001)
      .distinct.sorted
    val boundsCol = array(bounds.map(lit).toIndexedSeq: _*)
    // range id = #bounds strictly ABOVE the score: monotone in the
    // DESCENDING rank order, so every range's rows rank entirely
    // before the next range's
    val bucketed = scored.withColumn("bkt",
      aggregate(boundsCol, lit(0), (acc, b) => acc + ($"avg_logp" < b).cast("int")))
    val counts = bucketed.groupBy($"bkt").agg(count(lit(1)).as("cnt"))
    val wB = Window.orderBy($"bkt").rowsBetween(Window.unboundedPreceding, -1)
    // |ranges| rows — this single-partition window is over ~32 rows
    val offsets = counts
      .withColumn("off", coalesce(sum($"cnt").over(wB), lit(0L)))
    val total = counts.agg(sum($"cnt").as("n"))
    val wL = Window.partitionBy($"bkt").orderBy($"avg_logp".desc, $"doc_id")
    val ranked = bucketed.join(broadcast(offsets), "bkt")
      .withColumn("rn", $"off" + row_number().over(wL))
      .crossJoin(broadcast(total))
      .withColumn("q", expr("n div 3")).withColumn("r", $"n" % 3)
      // ntile(3): first r tiles hold q+1 rows, the rest q (w09's law)
      .withColumn("bucket_no", expr(
        """CAST(CASE WHEN rn <= r * (q + 1) THEN (rn + q) div (q + 1)
                     ELSE r + (rn - r * (q + 1) + q - 1) div q END AS BIGINT)"""))
      .select($"doc_id", $"avg_logp", $"bucket_no")
    a17Report(s, d, ranked)
  }

  /** The per-doc LM score table a17's two formulations share. */
  private def a17Scored(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // same shape as a10: word-count artifact + cnt-weighted mean
    // (identical arithmetic to a10's — the two scores must agree)
    val wc = wordCounts(s, d).filter($"word" =!= "")
      .select($"doc_id", $"word", $"cnt".as("tf"))
    val lm = wc.groupBy($"word").agg(sum($"tf").as("cnt"))
    val n = lm.agg(sum($"cnt").as("n_total"))
    wc.join(broadcast(lm), "word")
      .crossJoin(broadcast(n))
      .withColumn("logp", log($"cnt" / $"n_total"))
      .groupBy($"doc_id")
      .agg(round(sum($"tf" * $"logp") / sum($"tf"), 4).as("avg_logp"))
  }

  /** Shared tail: per-(bucket, source) stats off a (doc_id, avg_logp,
    * bucket_no) table. Second-level stats in EXACT integer
    * ten-thousandths: the mean of already-rounded doubles can land
    * exactly on a round-4 boundary and the engines' float division
    * splits it (two cells flipped by 1e-4 at sf0.01); integer div of
    * exact e4 units cannot. */
  private def a17Report(s: SparkSession, d: String, ranked: DataFrame): DataFrame = {
    import s.implicits._
    ranked
      .withColumn("logp_e4", round($"avg_logp" * 10000).cast("long"))
      .join(Tables.documents(s, d).select($"doc_id", $"source"), "doc_id")
      .groupBy($"bucket_no", $"source")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(logp_e4) div count(1)").as("mean_logp_e4"))
      .select($"bucket_no",
        when($"bucket_no" === 1, "head").when($"bucket_no" === 2, "middle")
          .otherwise("tail").as("bucket"),
        $"source", $"n_docs", $"mean_logp_e4")
      .orderBy($"bucket_no", $"source")
  }

  /** The single-partition ntile twin of a17 — the readable baseline the
    * oracle SQL mirrors term-for-term; TextAnalysisSpec asserts it
    * row-equals the range-partitioned production path (the w08/w09
    * relationship). Never registered as a driver query. */
  private[graft] def a17Ntile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy($"avg_logp".desc, $"doc_id")
    a17Report(s, d,
      a17Scored(s, d).withColumn("bucket_no", ntile(3).over(w).cast("long")))
  }
  private val a17Sql =
    """WITH tok AS (
         SELECT doc_id, word FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents)
         WHERE word <> ''),
       lm AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
       n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM lm),
       scored AS (
         SELECT doc_id,
           round(avg(ln(CAST(cnt AS DOUBLE) / n_total)), 4) AS avg_logp
         FROM tok JOIN lm USING (word), n
         GROUP BY doc_id),
       bucketed AS (
         SELECT s.doc_id, avg_logp,
           ntile(3) OVER (ORDER BY avg_logp DESC, s.doc_id) AS bucket_no
         FROM scored s)
       SELECT bucket_no,
         CASE bucket_no WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
              ELSE 'tail' END AS bucket,
         d.source, count(*) AS n_docs,
         CAST(sum(CAST(round(avg_logp * 10000) AS BIGINT)) // count(*)
              AS BIGINT) AS mean_logp_e4
       FROM bucketed b JOIN documents d ON d.doc_id = b.doc_id
       GROUP BY bucket_no, d.source
       ORDER BY bucket_no, d.source"""

  /** a18 — EXACT quota sampling: exactly k docs per (lang, source)
    * stratum (fewer when the stratum is smaller than k), chosen by
    * deterministic salted-hash rank — the quota-ed construction for
    * eval/calibration subsets, where a08's rate-based draw (right in
    * EXPECTATION only) doesn't cut it. The selection runs on the
    * `TopKPerKey` custom plan: per-task bounded heaps keep k
    * candidates per stratum, so one exchange moves O(k·|strata|)
    * survivor rows — never a per-stratum sort, never the corpus. The
    * oracle is the window formulation (row_number per stratum ≤ k);
    * equality also re-certifies the custom SparkPlan against an
    * independent engine on a second input shape (w11/v10 cover the
    * relational tables). At 100 TB: the heap pass is map-side over
    * whatever partitioning the scan has; quota, strata arity and the
    * salt are the only knobs. */
  private def a18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 5
    val docs = Tables.documents(s, d)
      .withColumn("h", h60(concat(lit("quota:"), $"doc_id")))
    val picked = graft.plans.TopKPerKey.topKPerKey(
      docs.select($"lang", $"source", $"h", $"doc_id"), k,
      Seq($"lang", $"source"), Seq($"h", $"doc_id"))
    picked.select($"lang", $"source", $"doc_id", $"h")
      .orderBy($"lang", $"source", $"h", $"doc_id")
  }
  private val a18Sql =
    """SELECT lang, source, doc_id, h FROM (
         SELECT lang, source, doc_id, h,
           row_number() OVER (PARTITION BY lang, source
                              ORDER BY h, doc_id) AS rn
         FROM (SELECT lang, source, doc_id,
                 ('0x' || substr(md5('quota:' || doc_id), 1, 15))::BIGINT AS h
               FROM documents))
       WHERE rn <= 5
       ORDER BY lang, source, h, doc_id"""

  val queries: Map[String, QueryFn] = Map(
    "a18_quota_sample" -> a18 _,
    "a17_perplexity_buckets" -> a17 _,
    "a16_bigram_logprob" -> a16 _,
    "a14_source_mixing" -> a14 _,
    "a15_classifier_score" -> a15 _,
    "a13_sequence_packing" -> a13 _,
    "a12_pii_scrub" -> a12 _,
    "a11_dup_report" -> a11 _,
    "a10_unigram_logprob" -> a10 _,
    "a01_language_id" -> a01 _,
    "a07_repetition_stats" -> a07 _,
    "a08_stratified_sample" -> a08 _,
    "a09_tfidf_terms" -> a09 _,
    "a02_quality_score" -> a02 _,
    "a03_token_counts" -> a03 _,
    "a04_fingerprint" -> a04 _,
    "a05_curation_pipeline" -> a05 _,
    "a06_bigram_stats" -> a06 _,
  )

  val oracle: Map[String, String] = Map(
    "a18_quota_sample" -> a18Sql,
    "a17_perplexity_buckets" -> a17Sql,
    "a16_bigram_logprob" -> a16Sql,
    "a14_source_mixing" -> a14Sql,
    "a15_classifier_score" -> a15Sql,
    "a13_sequence_packing" -> a13Sql,
    "a12_pii_scrub" -> a12Sql,
    "a11_dup_report" -> a11Sql,
    "a10_unigram_logprob" -> a10Sql,
    "a01_language_id" -> a01Sql,
    "a07_repetition_stats" -> a07Sql,
    "a08_stratified_sample" -> a08Sql,
    "a09_tfidf_terms" -> a09Sql,
    "a02_quality_score" -> a02Sql,
    "a03_token_counts" -> a03Sql,
    "a04_fingerprint" -> a04Sql,
    "a05_curation_pipeline" -> a05Sql,
    "a06_bigram_stats" -> a06Sql,
  )
}
