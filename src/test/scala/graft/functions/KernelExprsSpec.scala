package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.kernel.Weights

/** Parity pins for the native verify filter `pair_accept`: in a plan it
  * must decide exactly `KernelExprs.pairScoreMax(...) >= threshold`
  * computed on the driver (guards the expression plumbing — null
  * channels, byte casts, literal embedding in generated code), and
  * `KernelExprs.pairScoreMax` itself must equal the `graft.kernel`
  * scoring it stands in for.
  */
class KernelExprsSpec extends SparkSpecBase {

  private val K = Kernels.test

  private val weightSets = Seq(
    Weights(),
    Weights(ld = 1.0, lcs = 0.0, prefix = 0.2, suffix = 0.2, caseW = 0.1),
    Weights(ld = 0.1, lcs = 1.0, prefix = 0.1, suffix = 0.1, caseW = 0.1),
    Weights(ld = 0.5, lcs = -0.2, prefix = 0.3, suffix = 0.3, caseW = 0.1))

  /** Deterministic normKey-ish pairs: strings over the compact class
    * alphabet (codepoints 33..59 = the 27-class test alphabet), lengths
    * 0..12, edit distances 0..large, plus null rows.
    */
  private def pairs: Seq[(String, String, Byte, Byte)] = {
    var state = 0xDEADBEEFL
    def next(n: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 33) % n).toInt
    }
    def word(): String =
      (0 until next(13)).map(_ => (33 + next(27)).toChar).mkString
    val rand = (1 to 400).map { _ =>
      val a = word()
      // half the pairs are perturbations of a (near dups), half random
      val b =
        if (next(2) == 0) word()
        else {
          val sb = new StringBuilder(a)
          if (sb.nonEmpty && next(2) == 0) sb.setCharAt(next(sb.length), (33 + next(27)).toChar)
          if (next(3) == 0) sb.append((33 + next(27)).toChar)
          sb.toString
        }
      (a, b, next(3).toByte, next(3).toByte)
    }
    rand ++ Seq(
      (null, "abc", 0.toByte, 0.toByte),
      ("abc", null, 0.toByte, 1.toByte),
      ("", "abc", 2.toByte, 0.toByte),
      ("abc", "", 0.toByte, 2.toByte),
      ("abc", "abc", 0.toByte, 0.toByte),
      ("abc", "abc", 0.toByte, 1.toByte))
  }

  /** The fixture as an RDD-backed DataFrame: a local literal table would
    * let ConvertToLocalRelation evaluate the expression at plan time and
    * bypass the generated code.
    */
  private def pairsDf = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("na", StringType), StructField("nb", StringType),
      StructField("ca", ByteType), StructField("cb", ByteType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      pairs.map { case (a, b, ca, cb) => Row(a, b, ca, cb) }, 4), schema)
  }

  /** `pair_accept` in a plan vs the JVM reference on the driver, at three
    * thresholds, with whole-stage codegen on and then off (off also
    * forces interpreted expression eval).
    */
  private def assertAcceptMatchesReference(maxEd: Int, w: Weights): Unit = {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    val modes = Seq(
      Map("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "FALLBACK"),
      Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for (mode <- modes; t <- Seq(0.5, 0.7, 0.9)) {
      val prev = mode.keys.map(k => k -> spark.conf.getOption(k)).toMap
      val rows = try {
        mode.foreach { case (k, v) => spark.conf.set(k, v) }
        pairsDf.select(col("na"), col("nb"), col("ca"), col("cb"),
          K.pairAccept(col("na"), col("nb"), col("ca"), col("cb"), maxEd, t, w)
            .as("accept"))
          .collect()
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      assert(rows.length == pairs.length)
      var accepts = 0
      rows.foreach { r =>
        assert(!r.isNullAt(4), "pair_accept must never be null")
        val score = KernelExprs.pairScoreMax(u8(r.getString(0)),
          u8(r.getString(1)), r.getByte(2), r.getByte(3), maxEd,
          w.ld, w.lcs, w.prefix, w.suffix, w.caseW)
        val expected = !java.lang.Double.isNaN(score) && score >= t
        assert(r.getBoolean(4) == expected, s"mode=$mode t=$t score=$score row=$r")
        if (expected) accepts += 1
      }
      // the fixture must exercise both outcomes at every threshold
      assert(accepts > 0 && accepts < rows.length, s"t=$t accepts=$accepts")
    }
  }

  test("pair_accept in a plan == pairScoreMax >= threshold, codegen on/off") {
    assertAcceptMatchesReference(3, Weights())
  }

  test("non-default weights and maxEditDistance reach the generated code") {
    assertAcceptMatchesReference(1, Weights(ld = 0.7, lcs = 0.1, prefix = 0.1,
      suffix = 0.05, caseW = 0.05))
  }

  test("pairAccept decision == pairScoreMax >= threshold, every weight set") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    // short fixture pairs + transcript-length near-dups (the production
    // shape, exercising the lower-bound accept, the upper-bound reject,
    // and the binary-search + diagonal-scan fallback)
    var state = 0x5EEDL
    def next(n: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 33) % n).toInt
    }
    val rng = new scala.util.Random(4242L)
    val long = (1 to 150).map { _ =>
      val a = graft.sources.SyntheticText.phrase(rng, 5 + rng.nextInt(40))
      val b =
        if (rng.nextInt(5) == 0) graft.sources.SyntheticText.phrase(rng, 5 + rng.nextInt(40))
        else graft.sources.SyntheticText.corrupt(rng, a, 1 + rng.nextInt(3))
      (a, b, next(3).toByte, next(3).toByte)
    }
    val thresholds = Seq(0.0, 0.3, 0.5, 0.7, 0.9, 1.0)
    var accepts = 0
    var rejectsScored = 0
    for ((a, b, ca, cb) <- pairs ++ long; w <- weightSets; t <- thresholds) {
      val score = KernelExprs.pairScoreMax(u8(a), u8(b), ca, cb, 3,
        w.ld, w.lcs, w.prefix, w.suffix, w.caseW)
      val expected = !java.lang.Double.isNaN(score) && score >= t
      val got = KernelExprs.pairAccept(u8(a), u8(b), ca, cb, 3,
        w.ld, w.lcs, w.prefix, w.suffix, w.caseW, t)
      assert(got == expected, s"a=$a b=$b w=$w t=$t score=$score")
      if (expected) accepts += 1
      else if (!java.lang.Double.isNaN(score)) rejectsScored += 1
    }
    // the grid must exercise both outcomes on scored pairs
    assert(accepts > 100, s"only $accepts accepts — fixture too thin")
    assert(rejectsScored > 100, s"only $rejectsScored scored rejects")
  }

  test("the accept-filter plan stays codegen'd with the extension") {
    val df = spark.range(50).select(
      concat(lit("abcd"), (col("id") % 7).cast("string")).as("na"),
      concat(lit("abc"), (col("id") % 5).cast("string")).as("nb"),
      (col("id") % 3).cast("byte").as("ca"),
      (col("id") % 3).cast("byte").as("cb"))
    val plan = df.filter(
      K.pairAccept(col("na"), col("nb"), col("ca"), col("cb"), 3, 0.7, Weights()))
      .queryExecution.executedPlan.toString
    assert(plan.contains("pair_accept"), plan)
    assert(!plan.contains("UDF"), s"native path still routes through a UDF:\n$plan")
  }

  test("pairScoreMax == graft.kernel scoring, max over both directions") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    import graft.kernel.{Alphabet, Scoring}
    import graft.sources.SyntheticText
    // ClipGen-shaped transcripts: canonical phrases and corrupted copies
    // within a few edits, plus unrelated phrases; a capitalized first
    // letter on some texts exercises the case feature
    val rng = new scala.util.Random(0xC11DL)
    def cap(s: String) = if (rng.nextInt(4) == 0) s.capitalize else s
    val texts = (1 to 300).map { _ =>
      val a = SyntheticText.phrase(rng, 3 + rng.nextInt(6))
      val b =
        if (rng.nextInt(4) == 0) SyntheticText.phrase(rng, 3 + rng.nextInt(6))
        else SyntheticText.corrupt(rng, a, 1 + rng.nextInt(4))
      (cap(a), cap(b))
    }
    // normKey / caseClass through the production column functions
    val keyed = texts.toDF("a", "b").select(col("a"), col("b"),
      K.normKey(col("a")), K.normKey(col("b")),
      K.caseClass(col("a")), K.caseClass(col("b"))).collect()
    val alphabet = Alphabet.test
    var scored = 0
    for (r <- keyed; w <- weightSets) {
      val (a, b) = (r.getString(0), r.getString(1))
      val got = KernelExprs.pairScoreMax(u8(r.getString(2)), u8(r.getString(3)),
        r.getByte(4), r.getByte(5), 3, w.ld, w.lcs, w.prefix, w.suffix, w.caseW)
      val (na, nb) = (alphabet.normalize(a), alphabet.normalize(b))
      val ref = for {
        dab <- Scoring.distanceFeatures(na, a, nb, b, 3, w)
        dba <- Scoring.distanceFeatures(nb, b, na, a, 3, w)
      } yield math.max(Scoring.score(dab, na.length, w),
        Scoring.score(dba, nb.length, w))
      assert(ref.isEmpty == java.lang.Double.isNaN(got), s"a=$a b=$b w=$w got=$got")
      ref.foreach { v =>
        assert(v == got, s"a=$a b=$b w=$w kernel=$got reference=$v")
        scored += 1
      }
    }
    // both channels must be exercised
    assert(scored > 200, s"only $scored scored pairs")
    assert(scored < keyed.length * weightSets.length, "no out-of-band pairs")
  }

  test("pair_accept rejects non-string norms and non-integral case channels") {
    val df = spark.range(3).select(
      col("id").cast("string").as("na"), array(col("id")).as("arr"),
      col("id").cast("string").as("s"), col("id").cast("byte").as("c"))
    for ((na, ca) <- Seq(col("arr") -> col("c"), col("na") -> col("s"))) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(K.pairAccept(na, col("na"), ca, col("c"), 3, 0.7))
      }
      assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), e.getMessage)
    }
  }
}
