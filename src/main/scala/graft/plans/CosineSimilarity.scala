package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity between two
  * `ArrayType(FloatType)` columns, in double precision, elementwise
  * ascending — the same fold order as the higher-order-function
  * formulation (VectorFunctions.cosineSimilarity) and the DuckDB oracle,
  * so results are bitwise-identical to both.
  *
  * Why an Expression (SURVEY.md §4.3 v2): the HOF version allocates an
  * intermediate array per row pair (`zip_with`) and evaluates three
  * lambda folds; this compiles to a single fused loop inside whole-stage
  * codegen — no allocation, no virtual calls — which matters when scoring
  * billions of candidate pairs. Null elements inside a vector are treated
  * as 0 (the corpus has none; documented divergence from the HOF path,
  * which nulls the whole result).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_sim expects (array<float>, array<float>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  /** Null on zero-norm input (all-zero or empty vector): 0/0 would be NaN,
    * and NaN orders ABOVE every real score in a top-k heap — one degenerate
    * vector would surface as everyone's best neighbor. Null drops out of
    * aggregates and top-k instead.
    */
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0.0 else x.getFloat(i).toDouble
      val yv = if (y.isNullAt(i)) 0.0 else y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.isNullAt($i) ? 0.0 : (double) $a.getFloat($i);
         |  double $yv = $b.isNullAt($i) ? 0.0 : (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($denom == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / $denom;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Registration + Column helpers for the engine's native functions. */
object GraftFunctions {

  /** Column-level accessor (no SQL registration needed). */
  def cosine_sim(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      CosineSimilarity(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b)))

  /** The engine's native SQL functions: name → (expression class,
    * builder). The one table both registration paths read:
    * [[graft.GraftExtensions]] (sessions built with the extensions) and
    * [[register]] (a reused session built without them). */
  val native: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity],
      e => CosineSimilarity(e(0), e(1))),
    ("rolling_fingerprint", classOf[RollingFingerprint],
      e => RollingFingerprint(e(0))),
    ("zorder", classOf[ZOrderInterleave], e => ZOrderInterleave(e(0), e(1))),
    ("zorder3", classOf[ZOrderInterleave3],
      e => ZOrderInterleave3(e(0), e(1), e(2))),
    ("bloom_might_contain", classOf[BloomMightContain],
      e => BloomMightContain(e(0), e(1))),
    ("dist2_int", classOf[SquaredDistanceInt],
      e => SquaredDistanceInt(e(0), e(1))))

  /** Register every [[native]] function for SQL texts in this session. */
  def register(spark: SparkSession): Unit = native.foreach {
    case (name, _, build) => spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, build, "scala_udf")
  }
}
