package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.{TextFns => T}

class CosineSimSpec extends SparkSpecBase {
  import spark.implicits._

  private def randomVecs(n: Int, dim: Int, seed: Long): Seq[(Long, Seq[Double], Seq[Double])] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i =>
      (i.toLong, Seq.fill(dim)(rng.nextGaussian()), Seq.fill(dim)(rng.nextGaussian())))
  }

  test("cosine_sim is registered by GraftExtensions and matches the HOF form bit-for-bit") {
    assert(spark.catalog.functionExists("cosine_sim"))
    val df = randomVecs(200, 64, 42L).toDF("id", "a", "b")
    val out = df.select(
      T.cosineSim(col("a"), col("b")).as("native"),
      T.cosine(col("a"), col("b")).as("hof")
    ).collect()
    // identical IEEE operation order -> identical doubles, not just close
    assert(out.forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("null arrays null out; self-similarity is 1.0") {
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Option(Seq(1.0, 2.0, 3.0))),
      (2L, Seq(1.0, 2.0, 3.0), None: Option[Seq[Double]])
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
      call_function("cosine_sim", col("a"), col("b")).as("c")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(math.abs(out(1L).get - 1.0) < 1e-12)
    assert(out(2L).isEmpty)
  }

  test("interpreted eval path agrees with codegen (whole-stage off)") {
    val df = randomVecs(50, 32, 11L).toDF("id", "a", "b")
    val expr = call_function("cosine_sim", col("a"), col("b")).as("c")
    val withCodegen = df.select(expr).collect().map(_.getDouble(0))
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interpreted = df.select(expr).collect().map(_.getDouble(0))
      assert(withCodegen.toSeq == interpreted.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("numeric arrays widen to double; other element types fail analysis") {
    val df = randomVecs(20, 8, 3L).toDF("id", "a", "b")
      .select(col("a"), col("b"),
        transform(col("a"), x => round(x * 100).cast("int")).as("ai"),
        transform(col("b"), x => round(x * 100).cast("int")).as("bi"))
    val out = df.select(
      T.cosineSim(col("ai"), col("bi")),
      T.cosine(col("ai").cast("array<double>"), col("bi").cast("array<double>")))
      .collect()
    assert(out.forall(r => r.getDouble(0) == r.getDouble(1)))
    for (bad <- Seq(transform(col("a"), _.cast("string")), col("a").cast("string"))) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(T.cosineSim(bad, col("b")))
      }
      assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), e.getMessage)
    }
  }
}
