package graft.spark

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, IntegerType, LongType,
  NumericType, ShortType}

import graft.functions.{CosineSim, PairAccept, SortedIntersectCount}

/** Session extensions registering graft's native Catalyst expressions
  * (the public injection route: `.config("spark.sql.extensions",
  * classOf[GraftExtensions].getName)` or `--conf spark.sql.extensions=...`
  * on spark-submit — no private Spark API touched): `cosine_sim`,
  * `sorted_intersect_count` and `pair_accept`.
  *
  * The extension is required: the engine's column builders call these
  * functions by name, and a session without it fails the DataFrame at
  * analysis with UNRESOLVED_ROUTINE naming the function. Each builder
  * widens only the input types its expression can take losslessly;
  * anything else reaches the expression's `checkInputDataTypes` and
  * fails analysis.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"cosine_sim takes 2 arguments, got ${children.length}")
        def widen(e: Expression): Expression = e.dataType match {
          case ArrayType(DoubleType, false) => e
          case ArrayType(_: NumericType, _) => Cast(e, ArrayType(DoubleType))
          case _ => e
        }
        CosineSim(widen(children.head), widen(children(1)))
      }))
    e.injectFunction((
      FunctionIdentifier("pair_accept"),
      new ExpressionInfo(classOf[PairAccept].getName, "pair_accept"),
      (children: Seq[Expression]) => {
        require(children.length == 11,
          "pair_accept takes (normA, normB, caseA, caseB, " +
            s"maxEditDistance, wLd, wLcs, wPrefix, wSuffix, wCase, " +
            s"threshold), got ${children.length} arguments")
        // config args must be plan-time constants: the kernel's band
        // width, weights and threshold are embedded in the generated code
        def num(e: Expression, what: String): Double = {
          require(e.foldable, s"pair_accept: $what must be a literal")
          e.eval(null) match {
            case n: java.lang.Number => n.doubleValue()
            case other => sys.error(s"pair_accept: $what is not numeric: $other")
          }
        }
        def caseByte(e: Expression): Expression = e.dataType match {
          case ByteType | ShortType | IntegerType | LongType => Cast(e, ByteType)
          case _ => e
        }
        PairAccept(
          children(0), children(1),
          caseByte(children(2)), caseByte(children(3)),
          maxEditDistance = num(children(4), "maxEditDistance").toInt,
          wLd = num(children(5), "wLd"), wLcs = num(children(6), "wLcs"),
          wPrefix = num(children(7), "wPrefix"),
          wSuffix = num(children(8), "wSuffix"),
          wCase = num(children(9), "wCase"),
          threshold = num(children(10), "threshold"))
      }))
    e.injectFunction((
      FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"sorted_intersect_count takes 2 arguments, got ${children.length}")
        def widen(e: Expression): Expression = e.dataType match {
          case ArrayType(ByteType | ShortType, _) => Cast(e, ArrayType(IntegerType))
          case _ => e
        }
        SortedIntersectCount(widen(children.head), widen(children(1)))
      }))
  }
}

object GraftExtensions {
  /** Value for the `spark.sql.extensions` conf key. */
  val name: String = classOf[GraftExtensions].getName
}
