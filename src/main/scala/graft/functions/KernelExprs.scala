package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{DataTypeMismatch, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, BooleanType, ByteType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.kernel.{Distance, Distances, Scoring, Weights}

/** JVM kernels behind the native verify expression [[PairAccept]] (codegen
  * path and interpreted eval alike). [[KernelExprs.pairScoreMax]] is the
  * symmetric analiticcl verification score over precomputed normKey
  * strings + case classes — the reference that [[KernelExprs.pairAccept]]
  * decides against, and the form KernelExprsSpec pins to
  * [[graft.kernel.Scoring]]. NaN encodes null (no DL within
  * maxEditDistance, or an empty/null side); a legitimate score is a
  * finite weighted mean in [0,1], never NaN.
  */
object KernelExprs {

  /** Analysis-time input check shared by the native expressions: the
    * first child whose type is not its `expected` type (array element
    * nullability aside) yields Spark's DATATYPE_MISMATCH
    * .UNEXPECTED_INPUT_TYPE, so a bad argument fails the DataFrame at
    * construction instead of miscomputing per row.
    */
  private[functions] def checkInputs(children: Seq[Expression],
      expected: Seq[DataType]): TypeCheckResult = {
    def anyNulls(t: DataType): DataType = t match {
      case ArrayType(e, _) => ArrayType(e)
      case _ => t
    }
    children.zip(expected).zipWithIndex.collectFirst {
      case ((c, want), i) if anyNulls(c.dataType) != want =>
        DataTypeMismatch("UNEXPECTED_INPUT_TYPE", Map(
          "paramIndex" -> Seq("first", "second", "third", "fourth")(i),
          "requiredType" -> s"\"${want.sql}\"",
          "inputSql" -> s"\"${c.sql}\"",
          "inputType" -> s"\"${c.dataType.sql}\""))
    }.getOrElse(TypeCheckSuccess)
  }

  def pairScoreMax(na: UTF8String, nb: UTF8String, la: Byte, lb: Byte,
      maxEditDistance: Int, wLd: Double, wLcs: Double, wPrefix: Double,
      wSuffix: Double, wCase: Double): Double = {
    if (na == null || nb == null) return Double.NaN
    val a = na.toString
    val b = nb.toString
    if (a.isEmpty || b.isEmpty) return Double.NaN
    val ld = Distances.dlChars(a, b, maxEditDistance)
    if (ld < 0) return Double.NaN
    val w = Weights(wLd, wLcs, wPrefix, wSuffix, wCase)
    val d = Distance(
      ld = ld,
      lcs = if (w.lcs > 0.0) Distances.lcsChars(a, b) else 0,
      prefixLen = if (w.prefix > 0.0) Distances.prefixChars(a, b) else 0,
      suffixLen = if (w.suffix > 0.0) Distances.suffixChars(a, b) else 0,
      sameCase =
        if (w.caseW > 0.0 && la != 2.toByte && lb != 2.toByte) la == lb
        else true)
    math.max(
      Scoring.score(d, a.length, w),
      Scoring.score(d, b.length, w))
  }

  /** Decision form of [[pairScoreMax]] for the dedup verify filter:
    * returns exactly (pairScoreMax(...) >= threshold) without computing
    * the exact LCS when the decision doesn't need it — which is almost
    * always, because the score is MONOTONE non-decreasing in the lcs
    * feature (its weight is non-negative, and IEEE +, *, / round
    * monotonically), so:
    *
    *   - lcs >= max(prefixLen, suffixLen) (both are common substrings):
    *     if that lower bound already clears the threshold, accept —
    *     near-dup pairs (the verify stage's dominant outcome) decide
    *     here with zero LCS work;
    *   - lcs <= min(|a|, |b|): if even that can't reach the threshold,
    *     reject;
    *   - otherwise binary-search the EXACT scoring arithmetic for the
    *     smallest lcs value L that clears the threshold, turning the
    *     decision into `lcs >= L` — answered by the early-exit diagonal
    *     scan [[Distances.lcsAtLeast]] instead of the full |a|x|b| DP.
    *
    * Same DL gate, same feature skipping on zero weights, same null /
    * empty handling as [[pairScoreMax]] (score null => reject).
    * KernelExprsSpec pins decision equality against
    * pairScoreMax >= threshold across weight sets and thresholds.
    */
  def pairAccept(na: UTF8String, nb: UTF8String, la: Byte, lb: Byte,
      maxEditDistance: Int, wLd: Double, wLcs: Double, wPrefix: Double,
      wSuffix: Double, wCase: Double, threshold: Double): Boolean = {
    if (na == null || nb == null) return false
    // the monotonicity argument needs wLcs >= 0 and a positive weight
    // sum (true of every production config); anything else falls back
    // to the exact score
    val wSum = wLd + wLcs + wPrefix + wSuffix + wCase
    if (wLcs < 0.0 || !(wSum > 0.0) || java.lang.Double.isNaN(threshold)) {
      val v = pairScoreMax(na, nb, la, lb, maxEditDistance,
        wLd, wLcs, wPrefix, wSuffix, wCase)
      return !java.lang.Double.isNaN(v) && v >= threshold
    }
    val a = na.toString
    val b = nb.toString
    if (a.isEmpty || b.isEmpty) return false
    val ld = Distances.dlChars(a, b, maxEditDistance)
    if (ld < 0) return false
    val w = Weights(wLd, wLcs, wPrefix, wSuffix, wCase)
    val pre = if (w.prefix > 0.0) Distances.prefixChars(a, b) else 0
    val suf = if (w.suffix > 0.0) Distances.suffixChars(a, b) else 0
    val same =
      if (w.caseW > 0.0 && la != 2.toByte && lb != 2.toByte) la == lb
      else true
    def s(lcs: Int): Double = {
      val d = Distance(ld, lcs, pre, suf, same)
      math.max(
        Scoring.score(d, a.length, w),
        Scoring.score(d, b.length, w))
    }
    if (w.lcs == 0.0) return s(0) >= threshold // pairScoreMax skips lcs too
    val lb0 = math.max(pre, suf)
    if (s(lb0) >= threshold) return true
    val minLen = math.min(a.length, b.length)
    if (s(minLen) < threshold) return false
    // smallest L in (lb0, minLen] clearing the threshold; the two checks
    // above bracket it, and s is monotone in the integer lcs argument
    var loL = lb0 + 1
    var hiL = minLen
    while (loL < hiL) {
      val mid = (loL + hiL) >>> 1
      if (s(mid) >= threshold) hiL = mid else loL = mid + 1
    }
    Distances.lcsAtLeast(a, b, loL)
  }
}

/** Native Catalyst expression for the dedup verify filter — the largest
  * single phase of the pipeline at 1 core (BASELINE.md: 263 s of 404).
  * `pair_accept(...)` is exactly `pairScoreMax(...) >= threshold`
  * ([[KernelExprs.pairScoreMax]]), decided without the exact LCS whenever
  * the score bounds already settle it (see [[KernelExprs.pairAccept]]).
  * It participates in whole-stage codegen and calls the static kernel
  * directly from the generated stage method. Never null: a null input
  * channel or an out-of-band DL is a reject, exactly like the
  * score-form filter `score IS NOT NULL AND score >= threshold`.
  *
  * Registered as SQL function `pair_accept` by
  * [[graft.spark.GraftExtensions]]; built by [[Kernels.pairAccept]].
  * Children: normA/normB (string normKeys), caseA/caseB (byte case
  * classes: 0 lower, 1 not lower, 2 empty — see [[Kernels.caseClass]]).
  * maxEditDistance, the weights and the threshold are plan-time
  * constants (extracted from foldable literals at registration), so
  * codegen embeds them as Java literals.
  */
case class PairAccept(
    normA: Expression, normB: Expression,
    caseA: Expression, caseB: Expression,
    maxEditDistance: Int,
    wLd: Double, wLcs: Double, wPrefix: Double,
    wSuffix: Double, wCase: Double, threshold: Double)
    extends Expression {

  override def children: Seq[Expression] = Seq(normA, normB, caseA, caseB)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "pair_accept"

  override def checkInputDataTypes(): TypeCheckResult =
    KernelExprs.checkInputs(children, Seq(StringType, StringType, ByteType, ByteType))

  override def eval(input: InternalRow): Any = {
    val a = normA.eval(input)
    val b = normB.eval(input)
    val ca = caseA.eval(input)
    val cb = caseB.eval(input)
    if (a == null || b == null || ca == null || cb == null) false
    else KernelExprs.pairAccept(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String],
      ca.asInstanceOf[Byte], cb.asInstanceOf[Byte],
      maxEditDistance, wLd, wLcs, wPrefix, wSuffix, wCase, threshold)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    // Double.toString round-trips exactly, so the embedded literals are
    // the same doubles the interpreted path uses
    def dlit(x: Double): String = java.lang.Double.toString(x) + "D"
    val call = s"graft.functions.KernelExprs.pairAccept(" +
      s"${evs(0).value}, ${evs(1).value}, ${evs(2).value}, ${evs(3).value}, " +
      s"$maxEditDistance, ${dlit(wLd)}, ${dlit(wLcs)}, ${dlit(wPrefix)}, " +
      s"${dlit(wSuffix)}, ${dlit(wCase)}, ${dlit(threshold)})"
    ev.copy(code = code"""
      ${evs(0).code}
      ${evs(1).code}
      ${evs(2).code}
      ${evs(3).code}
      boolean ${ev.isNull} = false;
      boolean ${ev.value} = false;
      if (!${evs(0).isNull} && !${evs(1).isNull} &&
          !${evs(2).isNull} && !${evs(3).isNull}) {
        ${ev.value} = $call;
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(normA = newChildren(0), normB = newChildren(1),
      caseA = newChildren(2), caseB = newChildren(3))
}
