package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two double-array
  * columns — the hot kernel of the embedding ANN queries.
  *
  * Spark's higher-order functions (`aggregate`/`zip_with`, the portable
  * formulation in [[TextFns.cosine]]) are interpreted per element — three
  * lambda invocations per dimension. This expression participates in
  * whole-stage codegen (`doGenCode` emits one fused java loop), turning a
  * 64-dim cosine into 64 straight-line multiply-adds inside the stage's
  * generated method. Same IEEE operation order as the HOF form (dot and
  * norms accumulated left-to-right, `dot / (sqrt(na) * sqrt(nb))`), so
  * results are bit-identical and the DuckDB oracles are unaffected.
  *
  * Registered as SQL function `cosine_sim` by [[graft.spark.GraftExtensions]]
  * (the public `SparkSessionExtensions` route), which widens numeric
  * arrays to double arrays; built by [[TextFns.cosineSim]]. Any other
  * input type fails analysis.
  *
  * Null elements inside the arrays are not expected (embedding vectors are
  * dense); only top-level null arrays null out the result.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // coercion happens at registration (`ExpectsInputTypes`' AbstractDataType
  // is private[sql]); anything still not a double array is rejected here
  override def checkInputDataTypes(): TypeCheckResult =
    KernelExprs.checkInputs(children, Seq.fill(2)(ArrayType(DoubleType)))

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    val n = math.min(nx, ny)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    var na = 0.0
    i = 0
    while (i < nx) { val v = x.getDouble(i); na += v * v; i += 1 }
    var nb = 0.0
    i = 0
    while (i < ny) { val v = y.getDouble(i); nb += v * v; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val v = ctx.freshName("v")
      s"""
         |final int $nx = $a.numElements();
         |final int $ny = $b.numElements();
         |final int $n = $nx < $ny ? $nx : $ny;
         |double $dot = 0.0;
         |double $na = 0.0;
         |double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |for (int $i = 0; $i < $nx; $i++) {
         |  final double $v = $a.getDouble($i); $na += $v * $v;
         |}
         |for (int $i = 0; $i < $ny; $i++) {
         |  final double $v = $b.getDouble($i); $nb += $v * $v;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
