package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** E1 stage 2 — PDF note-reference enrichment (SURVEY.md §3 E1 step 2,
  * mainTesting.py:88-185): extracted statement lines are matched
  * against fact rows by substring containment, the following 1-2 lines
  * are probed for a note-reference pattern, and multi-references like
  * "2,3b" split — the first token updates the matched fact row's
  * `notes`, the rest insert zero-value fact rows.
  *
  * Reference shape: an O(lines) loop of per-line SQL round trips (one
  * SELECT per extracted line, :99-115) plus per-token UPDATE/INSERT.
  * Spark shape: ONE pass — each distinct fact row left-joins the
  * statement lines on the statement key with the contains() predicate
  * as a codegen residual, keeps its first note ref, and posexplodes the
  * ref's tokens: token 0 is the updated row, tokens 1..n the inserted
  * ones, no token the untouched row. Lookahead is two `lead` windows.
  *
  * Scale notes: fact rows are hash-partitioned once on the statement
  * key, and the duplicate count, the join's fact side and the per-row
  * first match all reuse that partitioning — three exchanges (fact,
  * the lookahead window, the lines' join side), each input scanned
  * once, nothing persisted. Within a key the contains() residual
  * evaluates in the hash-join probe loop — no nested loop over the
  * corpus. The lookahead window partitions by (doc_id, grup) so
  * per-task state is one document-statement's lines. Reference bugs
  * NOT reproduced (SURVEY §7.4): hardcoded issuer on inserts, lookahead
  * overrun, mismatched SELECT params.
  */
object NotesEnrichment {

  /** cek_pola (mainTesting.py:195-203): "2", "2a", "2,3b", ... */
  val notePattern = "^(\\d{1,2}|(\\d{1,2}[a-z])|(\\d{1,2}(?:,\\d{1,2}[a-z]?)*))$"

  private val factKey = Seq("kode_emiten", "tahun", "quartal", "grup_laporan_keuangan")

  /** fact: (kode_emiten, nama_emiten, tahun, quartal,
    * grup_laporan_keuangan, item, nilai, notes);
    * lines: (doc_id, kode_emiten, tahun, quartal, grup_laporan_keuangan,
    * page, line_no, text). Returns fact with notes filled and the
    * exploded extra note rows appended. */
  def enrich(fact: DataFrame, lines: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("doc_id"), col("grup_laporan_keuangan"))
      .orderBy(col("page"), col("line_no"))

    // W1 lookahead: a note ref on the next line wins over next-next
    val withNote = lines
      .withColumn("n1", lead(col("text"), 1).over(w))
      .withColumn("n2", lead(col("text"), 2).over(w))
      .withColumn("note_ref",
        when(col("n1").rlike(notePattern), col("n1"))
          .when(col("n2").rlike(notePattern), col("n2")))
      .filter(col("note_ref").isNotNull)
      .select(factKey.map(k => col(k).as(s"_l_$k")) :+ col("text").as("_text") :+
        col("note_ref").as("_ref"): _*)

    // Identical fact rows must keep their cardinality (the reference's
    // UPDATE touches every matching row), so each distinct row is matched
    // once and re-expanded by its count. Grouping normalizes -0.0 to 0.0
    // and collapses NaN payloads, so `nilai` groups on its string form
    // (exact) and its value is carried through first().
    val rowKey = fact.columns.toSeq.filter(_ != "nilai") :+ "_exact_nilai"
    val rows = fact
      .withColumn("_exact_nilai", col("nilai").cast("string"))
      .repartition(factKey.map(col): _*)
      .groupBy(rowKey.map(col): _*)
      .agg(count(lit(1)).as("_rows"), first(col("nilai")).as("nilai"))

    // J1: equi-join on the statement key, containment as residual. A
    // fact row may match several lines — keep the first note ref by line
    // text for determinism (the reference takes the first SELECT hit).
    val matched = rows.join(withNote,
        factKey.map(k => col(k) === col(s"_l_$k")).reduce(_ && _) &&
          lower(col("item")).contains(lower(col("_text"))),
        "left")
      .groupBy(rowKey.map(col): _*)
      .agg(first(col("_rows")).as("_rows"), first(col("nilai")).as("nilai"),
        min(struct(col("_text"), col("_ref"))).as("_m"))

    // U3: token 0 updates the matched row, tokens 1..n insert zero-value
    // rows, a row with no match keeps its notes; then every output row is
    // repeated once per identical input row
    matched
      .select(col("*"), posexplode_outer(split(col("_m._ref"), ",")).as(Seq("_pos", "_tok")))
      .withColumn("notes", when(col("_pos").isNull, col("notes")).otherwise(col("_tok")))
      .withColumn("nilai", when(col("_pos") > 0, lit(0.0)).otherwise(col("nilai")))
      .withColumn("_copy", explode(array_repeat(lit(true), col("_rows").cast("int"))))
      .select(fact.columns.toSeq.map(col): _*)
  }
}
