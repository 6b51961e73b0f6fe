package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}

/** One pass over each document's own tokens: the per-document operator
  * behind the shingle front end (`Dedup.shingleHashes`, the `shingles`
  * artifact) and t06/t07 segmentation.
  *
  * The declarative forms exploded every document into token or shingle
  * rows, shuffled those rows and put per-document results back
  * together (a window + `collect_list` + `array_sort`, or a `distinct`
  * over ~290k `(doc_id, sh)` rows at sf0.1). Here the shuffle carries
  * the documents themselves, one row each (5,000 at sf0.1), and a JVM
  * kernel walks one document's tokens at a time:
  *  1. `(id, text)` rows are hash-partitioned by id to the session's
  *     parallelism (this also spreads a single-row-group scan, the
  *     job `Tables.spread` does for the other document readers);
  *  2. each partition is sorted by (id, text), so an id's rows are
  *     adjacent and come in a fixed order;
  *  3. rows are streamed as groups of equal ids, nulls included, compared
  *     by value (a binary id is an `Array[Byte]`, whose `==` is
  *     reference equality); state is one group;
  *  4. each non-null text is split as Spark's `split(text, ' ')` splits
  *     it: `String.split(" ", -1)`, the call `UTF8String.split` makes,
  *     so empty tokens from leading, trailing or double spaces stay;
  *  5. the kernel gets the group's id and token arrays (one per
  *     non-null text, in text order; empty when every text is null) and
  *     returns the rows to emit, `doc_id` first.
  *
  * A kernel is built once per partition (`kernel()`), so a digest or a
  * buffer it holds is reused across the partition's documents. */
private[graft] object DocText {

  /** Rows to emit for one id group: `(id, token arrays) => rows`. */
  type Kernel = (Any, Seq[Array[String]]) => Iterator[Row]

  /** `(doc_id, fields...)` rows from `kernel` over each id group of
    * `docs`; `doc_id` keeps the type and nullability of `id`. */
  def perDoc(docs: DataFrame, id: Column, text: Column, fields: StructField*)(
      kernel: () => Kernel): DataFrame = {
    val in = docs.select(id.as("doc_id"), text.cast("string").as("text"))
    val out = StructType(in.schema.fields.head +: fields)
    in.repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .sortWithinPartitions(col("doc_id"), col("text"))
      .mapPartitions { rows =>
        val k = kernel()
        groups(rows.buffered).flatMap { case (key, toks) => k(key, toks) }
      }(Encoders.row(out))
  }

  /** Consecutive rows of equal id as (id, token arrays of the non-null
    * texts). */
  private def groups(it: scala.collection.BufferedIterator[Row]): Iterator[(Any, Seq[Array[String]])] =
    new Iterator[(Any, Seq[Array[String]])] {
      def hasNext: Boolean = it.hasNext
      def next(): (Any, Seq[Array[String]]) = {
        val key = it.head.get(0)
        val toks = Seq.newBuilder[Array[String]]
        while (it.hasNext && sameId(it.head.get(0), key)) {
          val t = it.next().getString(1)
          if (t != null) toks += t.split(" ", -1)
        }
        (key, toks.result())
      }
    }

  private def sameId(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case _ => a == b
  }
}
