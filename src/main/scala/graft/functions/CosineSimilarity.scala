package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity over two ARRAY<FLOAT> columns.
  *
  * The composable formulation (`aggregate(zip_with(...))`,
  * [[graft.operators.Similarity.cosine]]) is a higher-order function —
  * correct but interpreted per element. This expression emits a scalar
  * Java loop inside whole-stage codegen: same left-to-right double fold
  * (bit-identical results), ~10× less per-row overhead, no codegen
  * barrier around it. Length-mismatched inputs return NULL — the same
  * result the declarative form produces via zip_with's null-padding —
  * so the two forms agree on every input, not just on the intended
  * equal-dimension domain (pinned by CosineSimilaritySpec and
  * OperatorsSpec).
  *
  * Preference order per the engine design: compose built-ins where they
  * stay codegen'd; drop to a custom Expression exactly where (as here)
  * the built-in path falls out of codegen.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // AbstractDataType is private[sql]; the covariant Seq[DataType]
  // override satisfies ExpectsInputTypes from outside that package.
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var dot = 0.0
      var i = 0
      while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      var na = 0.0
      i = 0
      while (i < n) { val v = x.getFloat(i).toDouble; na += v * v; i += 1 }
      var nb = 0.0
      i = 0
      while (i < n) { val v = y.getFloat(i).toDouble; nb += v * v; i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val v = ctx.freshName("v")
      val n = ctx.freshName("n")
      s"""
        if ($a.numElements() != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          int $n = $a.numElements();
          double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
          }
          for (int $i = 0; $i < $n; $i++) {
            double $v = (double) $a.getFloat($i); $na += $v * $v;
          }
          for (int $i = 0; $i < $n; $i++) {
            double $v = (double) $b.getFloat($i); $nb += $v * $v;
          }
          ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {

  private val cosineInfo = new ExpressionInfo(
    classOf[CosineSimilarity].getName, "cosine_sim")

  private val jaccardInfo = new ExpressionInfo(
    classOf[JaccardSimilarity].getName, "jaccard_sim")

  private val containmentInfo = new ExpressionInfo(
    classOf[ContainmentSimilarity].getName, "containment_sim")

  /** Idempotent in-session registration: the one path that makes the
    * native expressions callable from SQL and `call_function`. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("cosine_sim"), cosineInfo,
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("jaccard_sim"), jaccardInfo,
      (args: Seq[Expression]) => JaccardSimilarity(args(0), args(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("containment_sim"), containmentInfo,
      (args: Seq[Expression]) => ContainmentSimilarity(args(0), args(1)))
  }
}
