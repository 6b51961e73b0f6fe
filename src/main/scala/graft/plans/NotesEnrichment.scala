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
  * Spark shape: ONE equi-join on the statement key with the contains()
  * predicate as a codegen residual, lookahead via `lead` windows, the
  * token split via posexplode, and the update expressed as
  * anti ∪ updated ∪ inserted (the table-format-free MERGE).
  *
  * Scale notes: the join equi-keys (issuer, year, quarter, group)
  * carry the shuffle; within a key the contains() residual evaluates
  * in the hash-join probe loop — no nested loop over the corpus. The
  * lookahead window partitions by (doc_id, grup) so per-task state is
  * one document-statement's lines. Reference bugs NOT reproduced
  * (SURVEY §7.4): hardcoded issuer on inserts, lookahead overrun,
  * mismatched SELECT params.
  */
object NotesEnrichment {

  /** cek_pola (mainTesting.py:195-203): "2", "2a", "2,3b", ... */
  val notePattern = "^(\\d{1,2}|(\\d{1,2}[a-z])|(\\d{1,2}(?:,\\d{1,2}[a-z]?)*))$"

  private val factKey = Seq("kode_emiten", "tahun", "quartal", "grup_laporan_keuangan")

  /** factU feeds both merge branches (matched join + untouched anti);
    * Spark does not share self-join subplans, so persist it — one slot,
    * previous invocation's cache released on the next call (the caller's
    * action runs after enrich() returns, so we cannot unpersist here). */
  @volatile private var factUSlot: DataFrame = null
  private def swapPersist(df: DataFrame): DataFrame = synchronized {
    val cached = df.persist()
    // plan-equality guard (see graft.util.PersistSlots): cache entries are
    // keyed by logical plan, and a repeat invocation re-instantiates the
    // same plan — unpersisting the previous holder would evict the entry
    // just registered above and every join branch would recompute
    if (factUSlot != null && (factUSlot ne cached) &&
        !factUSlot.queryExecution.analyzed.sameResult(cached.queryExecution.analyzed))
      factUSlot.unpersist(blocking = false)
    factUSlot = cached
    cached
  }

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
      .select(factKey.map(col) :+ col("text") :+ col("note_ref"): _*)

    // Identical fact rows must keep their cardinality (the reference's
    // UPDATE touches every matching row): a per-(key, item) ordinal
    // disambiguates exact duplicates through the groupBy and anti-join.
    // The order columns are explicit for self-documentation; rows inside
    // one partition of this window are exact duplicates, so ANY order
    // (including ties) yields the same multiset.
    val wDup = Window.partitionBy((factKey :+ "item").map(col): _*)
      .orderBy(col("nama_emiten"), col("nilai"), col("notes"))
    val factU = swapPersist(fact.withColumn("_dup", row_number().over(wDup)))

    // J1: equi-join on the statement key, containment as residual.
    // A fact row may match several lines — keep the first note ref by
    // line text for determinism (the reference takes the first SELECT hit).
    val matched = factU.join(withNote,
        factKey.map(k => factU(k) === withNote(k)).reduce(_ && _) &&
          lower(factU("item")).contains(lower(withNote("text"))))
      .select(factU("*"), withNote("note_ref"), withNote("text"))
      .groupBy(factU.columns.map(factU(_)): _*)
      .agg(min(struct(col("text"), col("note_ref"))).as("m"))
      .withColumn("note_ref", col("m.note_ref")).drop("m")

    // U3: token 0 updates the matched row; tokens 1..n insert new rows
    val exploded = matched
      .select(col("*"), posexplode(split(col("note_ref"), ",")).as(Seq("tok_pos", "tok")))
    val updated = exploded.filter(col("tok_pos") === 0)
      .withColumn("notes", col("tok"))
      .drop("note_ref", "tok_pos", "tok")
    val inserted = exploded.filter(col("tok_pos") > 0)
      .withColumn("notes", col("tok"))
      .withColumn("nilai", lit(0.0))
      .drop("note_ref", "tok_pos", "tok")

    // MERGE: untouched fact rows ∪ updated rows ∪ inserted rows
    val untouched = factU.join(updated,
      (factKey :+ "item" :+ "_dup").map(k => factU(k) === updated(k)).reduce(_ && _),
      "left_anti")
    untouched.unionByName(updated).unionByName(inserted).drop("_dup")
  }
}
