package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Native Catalyst expression for cosine similarity over two
  * `array<double>` columns (SURVEY.md §4 item 3: the one north-star
  * operator worth a custom `Expression`), and the engine's only cosine:
  * every similarity operator scores through it, and `mmrRerank`'s
  * in-task loop calls the same Scala body (`CosineSimilarity.cosine`)
  * as the interpreted eval.
  *
  * Why an Expression and not a UDF: the generated code is a tight
  * primitive loop over `ArrayData` with no boxing, no Row conversion,
  * and it participates in WholeStageCodegen — the higher-order-function
  * formulation (`aggregate(zip_with(...))`) allocates an intermediate
  * array per row and evaluates a lambda per element; a Scala UDF would
  * additionally pay serialization. The values are those of that fold
  * (same left-to-right accumulation order, double precision,
  * dot / (sqrt(na) * sqrt(nb))), and so are the nulls: a length
  * mismatch, a null element on either side or a zero norm yields null
  * (the fold's zip_with pads and null elements poison its sums; its
  * division yields null on a zero divisor, or raises DIVIDE_BY_ZERO
  * under ANSI mode). `SimilaritySpec` holds both eval paths to that
  * fold, and the s-family oracle holds them to DuckDB.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  // always nullable: a length mismatch or a zero norm yields null even
  // for non-nullable inputs (and keeps ev.isNull assignable in codegen)
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // the per-element null test only where an input can hold one
      val nullAt = Seq(left -> a, right -> b).collect {
        case (e, arr) if e.dataType.asInstanceOf[ArrayType].containsNull =>
          s"$arr.isNullAt(i)"
      }
      val nullCheck =
        if (nullAt.isEmpty) ""
        else s"if (${nullAt.mkString(" || ")}) { ${ev.isNull} = true; break; }"
      s"""
         |int n = $a.numElements();
         |if (n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double dot = 0.0, na = 0.0, nb = 0.0;
         |  for (int i = 0; i < n; i++) {
         |    $nullCheck
         |    double xv = $a.getDouble(i);
         |    double yv = $b.getDouble(i);
         |    dot += xv * yv; na += xv * xv; nb += yv * yv;
         |  }
         |  double den = java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb);
         |  if (den == 0.0) ${ev.isNull} = true;
         |  else ${ev.value} = dot / den;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** The cosine body of the interpreted eval and of `mmrRerank`: null
    * when the lengths differ, either array holds a null element or a
    * norm is zero — a schema drift or truncated embedding must surface,
    * not silently become a prefix dot product. */
  private[graft] def cosine(x: ArrayData, y: ArrayData): Any = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) null else dot / den
  }

  /** Column-API entry point — usable without any registration. */
  def cosineSim(a: Column, b: Column): Column =
    SqlBridge.column(CosineSimilarity(
      SqlBridge.expression(a), SqlBridge.expression(b)))

  private[functions] val info = new ExpressionInfo(
    classOf[CosineSimilarity].getCanonicalName, "cosine_sim")

  private[functions] def build(children: Seq[Expression]): Expression = {
    require(children.length == 2, "cosine_sim expects 2 arguments")
    CosineSimilarity(children.head, children(1))
  }

  /** Make `cosine_sim` callable from SQL on an existing session (for
    * sessions not built with the extensions config). Idempotent. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", build, "built-in")
}

/** SparkSessionExtensions hook: `.config("spark.sql.extensions",
  * "graft.functions.GraftExtensions")` registers the SQL function and
  * the TopKPerKey planner strategy at session build time (the strategy
  * also self-registers lazily via experimental.extraStrategies for
  * sessions built without the config — see TopKPerKeyPlan). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      CosineSimilarity.info,
      CosineSimilarity.build _)) // shared arity-checked builder
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      NfcNormalize.info,
      NfcNormalize.build _))
    ext.injectPlannerStrategy(_ => new graft.plans.TopKPerKeyStrategy)
    // dead-rank top-k rewrite: row_number()<=k window filters become the
    // TopKPerKey operator (partial per-partition heaps, O(k) shuffle)
    ext.injectOptimizerRule(_ => graft.plans.RankToTopKRule)
    // a bare INSERT INTO a graft table would be an invisible write
    // (files no manifest references) — refuse at analysis, loudly
    ext.injectCheckRule(_ => graft.sources.GraftInsertGuard)
  }
}
